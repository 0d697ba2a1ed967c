"""Pin the ICU collation-init warmup contract (session._warm_collation_init).

Spark 4 codegen routes lower()/upper() through CollationSupport's ICU
paths; the first call per JVM triggers CollationAwareUTF8String.<clinit>
(ICU case-mapping table build, 7-100 s measured on this box). session.tune
must pay that at session setup so no registered query's measured wall
absorbs the spike (corpus_url_canonicalize read 119 s cold / 1.1 s warm
at sf0.001 before the fix).
"""

from __future__ import annotations

import time

from weather_bigdata_project_spark import session as S


def test_tune_registers_icu_warmup(spark):
    """tune() marks the app warmed; a second tune is a cheap no-op."""
    app_id = spark.sparkContext.applicationId
    assert app_id in S._ICU_WARMED  # conftest's get_spark already tuned
    t0 = time.time()
    S.tune(spark)
    assert time.time() - t0 < 2.0  # guard hit: no re-collect

    # correctness of the warmed path: case-fold actually works post-init
    row = spark.range(0, 1, 1, 1).selectExpr(
        "lower('HTTPS://WWW.X.COM') AS v", "upper('ab') AS u"
    ).collect()[0]
    assert row.v == "https://www.x.com" and row.u == "AB"


def test_warmup_expression_is_not_foldable():
    """The warmup must stay NON-foldable: constant folding evaluates
    lower() interpreted (UTF8String.toLowerCase — no ICU), which would
    silently skip the class-init and reintroduce the in-query spike.
    Pin the shape: the warm expression references the range's id column.
    """
    import inspect

    src = inspect.getsource(S._warm_collation_init)
    assert "CAST(id AS STRING)" in src and "lower(" in src
    # and per-SLOT: one single-row partition per scheduler slot, so on
    # a real cluster every executor JVM pays its class-init at setup
    # (round-8 ADVICE), not inside the first case-folding query
    assert "defaultParallelism" in src
    assert "spark.range(0, slots, 1, slots)" in src


def test_warmed_set_keeps_only_the_live_session(spark):
    """A new session replaces the warmed entry instead of adding one per
    session forever."""
    app_id = spark.sparkContext.applicationId
    S._ICU_WARMED.discard(app_id)
    S._ICU_WARMED.add("dead-app")
    S.tune(spark)
    assert S._ICU_WARMED == {app_id}


def test_session_defaults_follow_the_machine(monkeypatch, tmp_path):
    """Without overrides the session sizes itself to the cores this
    process may use and half the memory it may use (the physical memory,
    or a smaller cgroup limit); the env vars win."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert S.default_cpus() == len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = int(S.default_driver_memory().removesuffix("g"))
    assert 1 <= gib and gib * 2**30 <= phys / 2
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(S, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    v2.write_text("max\n")  # no limit: the physical memory decides
    v1.write_text(f"{2**63 - 4096}\n")
    assert S.usable_memory() == phys
    v2.write_text(f"{6 * 2**30}\n")  # a 6 GiB container gets a 3g heap
    assert S.default_driver_memory() == "3g"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    assert (S.default_cpus(), S.default_driver_memory()) == (3, "5g")
