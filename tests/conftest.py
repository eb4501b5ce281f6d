from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Pure-Python protobuf runtime the base image's Google Cloud SDK
# vendors — only present on hosts with that SDK; the shim degrades to
# "protobuf tests skip" anywhere else.
_SDK_PB = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
)


def _activate_pbshim() -> None:
    """Make ``google.protobuf`` importable in this process AND in the
    PySpark workers the session will spawn, so the
    ``transformWithStateInPandas`` tests run instead of skipping.

    Mechanism: the shim dir ``vendor/pbshim`` is put on ``sys.path``
    and ``$PYTHONPATH`` BEFORE SparkSession creation; driver and
    workers then resolve ``google.protobuf`` by plain package-dir
    lookup (NOT sitecustomize — an earlier sitecustomize approach
    never reached the transformWithState driver worker). Only
    ``runtime_version.py`` (a lenient version validator) is committed;
    the rest of the package is BUILT HERE as symlinks into the SDK's
    runtime, behind existence checks, because committing
    absolute-path symlinks breaks on any other host (r7 advice).
    No-op when a real protobuf wheel is installed or the SDK copy is
    absent."""
    shim = os.path.join(_REPO, "vendor", "pbshim")
    try:
        import google.protobuf  # noqa: F401 — real wheel; nothing to do

        return
    except ImportError:
        pass
    if not os.path.isdir(_SDK_PB):
        return  # no SDK runtime on this host; protobuf tests will skip
    pkg = os.path.join(shim, "google", "protobuf")
    os.makedirs(pkg, exist_ok=True)
    for entry in os.listdir(_SDK_PB):
        if entry == "runtime_version.py":
            continue  # replaced by the committed lenient validator
        link = os.path.join(pkg, entry)
        if not os.path.lexists(link):
            os.symlink(os.path.join(_SDK_PB, entry), link)
    rv = os.path.join(pkg, "runtime_version.py")
    if not os.path.lexists(rv):
        os.symlink(os.path.join(shim, "runtime_version.py"), rv)
    if shim not in sys.path:
        sys.path.insert(0, shim)
    try:
        import google.protobuf  # noqa: F401 — shim resolvable?
    except ImportError:
        sys.path.remove(shim)
        return
    # worker processes inherit PYTHONPATH from the driver JVM's env and
    # resolve google.protobuf from the same shim dir
    prev = os.environ.get("PYTHONPATH", "")
    if shim not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            shim + (os.pathsep + prev if prev else "")
        )


_activate_pbshim()


@pytest.fixture(scope="session")
def spark():
    from go_zoom_kinesis_spark.session import get_spark

    spark = get_spark(app_name="gzk-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
