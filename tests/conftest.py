from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _arrange_protobuf() -> None:
    """Make transformWithStateInPandas testable on this container: no
    pip-installable protobuf exists (no egress), but google-cloud-sdk
    ships a vendored pure-python google.protobuf 6.32 under its
    appengine platform tree (round-8 discovery; rounds 4-7 found
    nothing). Appending it to sys.path AND the PYTHONPATH env — this
    runs before the JVM launches, so the state-server driver worker the
    JVM spawns inherits it — plus protobuf's OFFICIAL version-check
    escape hatch (pyspark's gencode is 6.33, one minor ahead; the
    StateMessage protocol is plain proto3, wire-compatible) lets the
    REAL protobuf transport run end-to-end instead of skipping."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(gae, "google", "protobuf")):
        return
    sys.path.append(gae)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.environ.get("PYTHONPATH"), gae) if p
    )
    os.environ.setdefault(
        "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
    )


_arrange_protobuf()

from weather_bigdata_project_spark import registry  # noqa: E402

registry.load()

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def _cache_home(tmp_path_factory):
    """Sessions the tests start, here and in child processes, keep their
    class-data archive in a temp cache, not the user's."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(tmp_path_factory.mktemp("xdg")))
        yield


@pytest.fixture(scope="session")
def spark():
    from weather_bigdata_project_spark.session import get_spark

    s = get_spark("pytest", cpus=8)
    yield s
    s.stop()


@pytest.fixture
def crash_lake_rename(monkeypatch):
    """`arm(second=True, skip=0)` makes one lake-swap rename raise
    OSError, as a crash there would stop the writer: the swap's second
    rename (`path__X` -> `path`), or its first (`path` -> `path__X`)
    with `second=False`, after `skip` matching renames went through.
    Later renames are real."""
    real = os.rename

    def arm(second: bool = True, skip: int = 0) -> None:
        left = [skip]

        def rename(src, dst):
            live, side = (dst, src) if second else (src, dst)
            if str(side).startswith(str(live).rstrip("/") + "__"):
                left[0] -= 1
                if left[0] < 0:
                    monkeypatch.setattr(os, "rename", real)
                    raise OSError("crash inside a lake swap")
            real(src, dst)

        monkeypatch.setattr(os, "rename", rename)

    return arm
