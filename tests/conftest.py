import os
import sys

import pytest
from hypothesis import settings

# `HYPOTHESIS_PROFILE=ci` (set by the CI workflow): a failing property
# test prints the blob that reproduces it (@reproduce_failure), and no
# example fails for slowness on a loaded runner.
settings.register_profile("ci", print_blob=True, deadline=None)
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "default"))

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Self-provision fixtures: several modules read SPARK_GRAFT_TEST_SF_DIR at
# import time with a /root/testdata default that only exists on the build
# host.  conftest is imported before any test module, so resolving the dir
# here — generating a deterministic local copy when it's absent (hosted CI
# runners) — makes the whole suite runnable from a bare checkout.
_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
if not os.path.isdir(_SF_DIR):
    _SF_DIR = os.path.join(REPO_ROOT, "tests", ".gen_testdata", "sf0.001")
    if not os.path.isdir(_SF_DIR):
        from tools.gen_testdata import generate

        generate(0.001, _SF_DIR)
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = _SF_DIR


@pytest.fixture(scope="session")
def engine():
    """One LightFusionSession for the whole test run (JVM startup ~15s)."""
    from lightfusion_spark import configure_session

    eng = configure_session(cores=4)
    yield eng
    eng.spark.stop()


@pytest.fixture(scope="session")
def spark(engine):
    return engine.spark


@pytest.fixture(scope="session")
def sf_dir():
    return _SF_DIR
