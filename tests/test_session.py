"""Session setup (session.tune / session.get_spark) sets runtime confs
and runs no Spark job of its own.

tune turns off ICU case mappings (spark.sql.icu.caseMappings.enabled),
so lower()/upper() take the JVM path and the first case-fold in a JVM
does not pay ICU's class-init. The JVM and ICU paths must agree on
lower, upper and UTF8_LCASE equality, which these tests pin over a
Unicode sample of the code points where case mappings are special.
"""

from __future__ import annotations

from weather_bigdata_project_spark import session as S

ICU_CONF = "spark.sql.icu.caseMappings.enabled"

#: special-cased code points: sharp s, final sigma, dotted/dotless i,
#: titlecase digraphs, ligatures, n-apostrophe, j-caron, combining marks
UNICODE_SAMPLE = [
    "Straße", "ΟΔΟΣ", "İstanbul", "ıi", "ǅemal", "ﬁle", "ŉ", "ǰ",
    "Montréal", "ÅNGSTRÖM", "ΣΊΣΥΦΟΣ", "DŽ", "ǈubljana", "ﬃ", "ς",
    "HTTPS://WWW.X.COM/Ä", "",
]


def _case_folds(spark) -> list:
    """lower, upper and UTF8_LCASE equality (against the lower-cased
    value) of every sample string, evaluated on columns so codegen runs
    the case mapping the conf selects, not constant folding."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(UNICODE_SAMPLE)],
                               "i INT, s STRING")
    return df.selectExpr(
        "i", "lower(s) AS lo", "upper(s) AS up",
        "s COLLATE UTF8_LCASE = lower(s) AS lcase_eq",
        "upper(s) COLLATE UTF8_LCASE = s AS lcase_eq_up",
    ).orderBy("i").collect()


def _initcap_sharp_s(spark) -> str:
    """initcap('ßa'): ICU title-cases ß as "Ss", the JVM leaves it, so
    this shows which case mapping the session runs."""
    df = spark.createDataFrame([("ßa",)], "s STRING")
    return df.selectExpr("initcap(s) AS v").first().v


def test_jvm_case_mappings_match_icu(spark):
    """tune leaves the ICU conf off even when it was preset to true,
    and the JVM case mappings it selects give the ICU path's values."""
    spark.conf.set(ICU_CONF, "true")
    try:
        with_icu = _case_folds(spark)
        assert _initcap_sharp_s(spark) == "Ssa"  # the conf switched paths
        S.tune(spark)
        assert spark.conf.get(ICU_CONF) == "false"
        assert _initcap_sharp_s(spark) == "ßa"
        assert _case_folds(spark) == with_icu
    finally:
        S.tune(spark)
    assert len(with_icu) == len(UNICODE_SAMPLE)
    assert with_icu[0].lo == "straße" and with_icu[1].lo == "οδος"


def test_tune_runs_no_spark_job(spark):
    """tune only sets confs: calling it starts no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("tune-probe", "jobs started by session.tune")
    try:
        S.tune(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("tune-probe")) == []


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
