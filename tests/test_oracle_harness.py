"""The differential-oracle client must fail only the test that hit a
dead runner: `ReferenceOracle.close()` runs in a module fixture's
teardown, so an exception there would be reported against whichever
test of the module ran last."""

import shutil
import subprocess
import sys

import pytest

from tests.ref_oracle.harness import ReferenceOracle


@pytest.mark.skipif(shutil.which("node") is None, reason="node absent")
def test_close_tolerates_dead_runner():
    o = ReferenceOracle()
    # without the reference the runner dies at startup; kill it so the
    # case is the same where the reference is installed
    o.proc.kill()
    o.proc.wait()
    with pytest.raises(RuntimeError, match="oracle subprocess died"):
        o.call("expand", doc={})
    o.close()


def test_close_kills_hung_runner():
    o = ReferenceOracle.__new__(ReferenceOracle)
    o.proc = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    o.close(timeout=0.5)
    assert o.proc.returncode is not None
