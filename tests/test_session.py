"""Session setup (session.tune / session.get_spark) sets runtime confs
and runs no Spark job of its own.

tune turns off ICU case mappings (spark.sql.icu.caseMappings.enabled),
so lower()/upper() take the JVM path and the first case-fold in a JVM
does not pay ICU's class-init. The JVM and ICU paths must agree on
lower, upper and UTF8_LCASE equality, which these tests pin over a
Unicode sample of the code points where case mappings are special.

get_spark launches the driver JVM with a class-data-sharing archive from
the cache directory; the first launch without one runs the dump in a
child process first. Those tests each run sessions in a subprocess, so
each gets its own JVM and its own cache ($XDG_CACHE_HOME under
tmp_path).
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

from weather_bigdata_project_spark import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


def test_driver_memory_is_capped_below_compressed_oops(monkeypatch, tmp_path):
    """Half of a 128 GiB cgroup limit would be 64g, where the JVM turns
    compressed oops off; the default stops at 31g."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    real = os.sysconf
    monkeypatch.setattr(os, "sysconf", lambda name: 2**40 // 4096
                        if name == "SC_PHYS_PAGES" else real(name))
    limit = tmp_path / "memory.max"
    limit.write_text(f"{128 * 2**30}\n")
    monkeypatch.setattr(S, "_CGROUP_MEMORY_LIMITS", (str(limit),))
    assert S.usable_memory() == 128 * 2**30
    assert S.default_driver_memory() == "31g"


def test_java_options_merge_into_submit_args():
    """The CDS flags join a ``--conf spark.driver.defaultJavaOptions=``
    value the submit args already carry, and are added as one when there
    is none; extraJavaOptions is left alone."""
    key = "spark.driver.defaultJavaOptions"
    extra = "--conf spark.driver.extraJavaOptions=-XX:+UseParallelGC"
    assert S._with_java_options(f"{extra} --conf {key}=-Da=1 pyspark-shell", "-Xs") == (
        f"{extra} --conf '{key}=-Xs -Da=1' pyspark-shell")
    assert S._with_java_options("pyspark-shell", "-Xs -Xt") == (
        f"--conf '{key}=-Xs -Xt' pyspark-shell")


def test_sweep_keeps_one_archive(tmp_path):
    """Files of another archive key go, and so does a dump's temp file
    whose dump run has ended; the live key's archive, marker and a
    running dump's temp file stay."""
    ended = subprocess.Popen(["true"])
    ended.wait()
    me = os.getpid()
    keep = ["cds-aaaa.jsa", "cds-aaaa.tried", f"cds-aaaa.{me}.tmp", "cds.log"]
    for n in keep + [f"cds-aaaa.{ended.pid}.tmp", "cds-bbbb.jsa", "cds-bbbb.tried",
                     f"cds-bbbb.{me}.tmp"]:
        (tmp_path / n).write_bytes(b"")
    S._sweep(str(tmp_path / "cds-aaaa.jsa"))
    assert sorted(os.listdir(tmp_path)) == sorted(keep)


#: a child session: starts get_spark, runs a query, prints what the JVM
#: was given and the environment it left
_CHILD = """
import json, os
from weather_bigdata_project_spark import session as S
spark = S.get_spark("cds-test", cpus=1)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "count": spark.range(10).count(),
    "args": list(mx.getRuntimeMXBean().getInputArguments()),
    "env": [os.environ.get(k) for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")],
}), flush=True)
"""
_LAUNCH_ENV = ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")


def _env(tmp_path, **env: str) -> dict[str, str]:
    """A child session's environment: its cache under `tmp_path`, 1g of
    driver heap, no launch settings but those in `env`."""
    full = {k: v for k, v in os.environ.items() if k not in _LAUNCH_ENV}
    full.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_DRIVER_MEMORY="1g",
                PYTHONPATH=REPO)
    full.update(env)
    return full


def _session(tmp_path, **env: str) -> tuple[dict, str]:
    """Run one child session; return the JSON line it printed and its
    stderr."""
    proc = subprocess.run([sys.executable, "-c", _CHILD], env=_env(tmp_path, **env),
                          cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    (report,) = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert report["count"] == 10
    assert report["env"] == [env.get(k) for k in _LAUNCH_ENV]  # restored
    return report, proc.stderr


def _cds_flags(report: dict) -> list[str]:
    return [a for a in report["args"]
            if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]


def _archive(tmp_path) -> str:
    """The archive a child session with this cache uses; its directory
    is created."""
    archive = subprocess.run(
        [sys.executable, "-c",
         "from weather_bigdata_project_spark import session as S; print(S.archive_path())"],
        env=_env(tmp_path), cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    return archive


def test_the_first_session_dumps_the_archive_and_maps_it(tmp_path):
    """On a fresh cache the first session runs the dump, then maps the
    archive and loads Spark classes from it; the next session maps it
    without dumping again. No cds warning reaches the terminal."""
    archive = _archive(tmp_path)
    load_log = tmp_path / "load.log"
    first, err = _session(tmp_path, PYSPARK_SUBMIT_ARGS=(
        f"--conf spark.driver.extraJavaOptions=-Xlog:class+load=info:file={load_log}"
        " pyspark-shell"))
    assert _cds_flags(first) == [f"-XX:SharedArchiveFile={archive}"]
    assert "[cds]" not in err and "class-data sharing off" not in err
    assert ("org.apache.spark.SparkContext source: shared objects file (top)"
            in load_log.read_text())
    name = os.path.basename(archive)
    assert sorted(n for n in os.listdir(os.path.dirname(archive)) if n.startswith("cds-")) == [
        name, name[:-4] + ".tried"]
    dumped = os.stat(archive).st_mtime_ns
    second, _ = _session(tmp_path)
    assert _cds_flags(second) == [f"-XX:SharedArchiveFile={archive}"]
    assert os.stat(archive).st_mtime_ns == dumped


def test_garbage_at_the_archive_path_still_starts(tmp_path):
    """A file that only starts like an archive reaches the JVM, which
    runs without sharing; bytes that do not are replaced by a dump. Both
    sessions run their query."""
    archive = _archive(tmp_path)
    with open(archive, "wb") as f:
        f.write(S._ARCHIVE_MAGIC + os.urandom(4096))
    report, _ = _session(tmp_path)
    assert _cds_flags(report) == [f"-XX:SharedArchiveFile={archive}"]
    with open(archive, "wb") as f:
        f.write(os.urandom(4096))
    report, _ = _session(tmp_path)
    assert _cds_flags(report) == [f"-XX:SharedArchiveFile={archive}"]
    assert S._is_archive(archive) and os.path.getsize(archive) > 2**20


def test_a_killed_dump_publishes_nothing_and_is_not_retried(tmp_path):
    """A session killed, with its dump run, while the dump is written
    publishes nothing. The next launch deletes the dead run's temp file,
    says why it has no archive and starts without CDS."""
    stem = _archive(tmp_path).removesuffix(".jsa")
    proc = subprocess.Popen([sys.executable, "-c", _CHILD], env=_env(tmp_path), cwd=REPO,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            start_new_session=True)
    end = time.monotonic() + 300
    while not glob.glob(f"{stem}.*.tmp") and proc.poll() is None and time.monotonic() < end:
        time.sleep(0.002)
    os.killpg(proc.pid, signal.SIGKILL)  # the session, the dump run and their JVMs
    proc.wait()
    (tmp,) = glob.glob(f"{stem}.*.tmp")
    assert not os.path.exists(f"{stem}.jsa")
    run = int(tmp.rsplit(".", 2)[1])
    while S._alive(run) and time.monotonic() < end:  # alive until it is reaped
        time.sleep(0.05)
    report, err = _session(tmp_path)
    assert _cds_flags(report) == []
    assert f"class-data sharing off: {stem}.tried marks a dump that left no archive" in err
    assert not os.path.exists(tmp) and not os.path.exists(f"{stem}.jsa")


def test_a_failed_dump_leaves_the_session_whole(tmp_path):
    """A dump fails while a non-empty directory is on the classpath.
    The dump run's JVM fails; the session itself starts without CDS and
    runs its query, and one line says why."""
    classes = tmp_path / "classes"
    classes.mkdir()
    (classes / "x.properties").write_text("")
    report, err = _session(tmp_path, PYSPARK_SUBMIT_ARGS=(
        f"--conf spark.driver.extraClassPath={classes} pyspark-shell"))
    assert _cds_flags(report) == []
    assert "class-data sharing off: the dump run failed" in err
    cache = tmp_path / "xdg" / "weather_bigdata_project_spark"
    assert not [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp"))]


def test_an_active_conf_dir_gets_no_cds_flag(tmp_path):
    """A conf dir with a file Spark reads keeps the launch as it was:
    no CDS flag, no cache, and one line saying why."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    (conf / "log4j2.properties.template").write_text("")
    report, err = _session(tmp_path, SPARK_CONF_DIR=str(conf))
    assert _cds_flags(report) == []
    assert f"class-data sharing off: {conf} holds spark-defaults.conf" in err
    assert not os.path.exists(tmp_path / "xdg")


def test_an_unwritable_cache_gets_no_cds_flag(tmp_path):
    """A cache directory that cannot be made launches without CDS."""
    (tmp_path / "file").write_text("")
    report, _ = _session(tmp_path, XDG_CACHE_HOME=str(tmp_path / "file"))
    assert _cds_flags(report) == []


def test_submit_args_java_options_stay_in_force(tmp_path):
    """extraJavaOptions and a defaultJavaOptions value set through
    PYSPARK_SUBMIT_ARGS both reach the JVM next to the CDS flag."""
    archive = _archive(tmp_path)
    with open(archive, "wb") as f:  # mapped as an archive: no dump run
        f.write(S._ARCHIVE_MAGIC + os.urandom(64))
    report, _ = _session(tmp_path, PYSPARK_SUBMIT_ARGS=(
        "--conf spark.driver.extraJavaOptions=-XX:+UseParallelGC"
        " --conf spark.driver.defaultJavaOptions=-Dweather.probe=1 pyspark-shell"))
    assert "-XX:+UseParallelGC" in report["args"]
    assert "-Dweather.probe=1" in report["args"]
    assert _cds_flags(report) == [f"-XX:SharedArchiveFile={archive}"]
