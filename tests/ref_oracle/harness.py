"""Differential-oracle client: run the REAL jsonld.js (from
/root/reference, external deps satisfied by the minimal stubs in
./node_modules) as a subprocess and compare operations 1:1."""

from __future__ import annotations

import json
import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
RUNNER = os.path.join(HERE, "runner.js")
REFERENCE = "/root/reference/lib/index.js"


def available() -> bool:
    if not os.path.exists(REFERENCE):
        return False
    try:
        subprocess.run(["node", "--version"], capture_output=True, timeout=10)
        return True
    except (OSError, subprocess.TimeoutExpired):
        return False


class ReferenceOracle:
    def __init__(self):
        env = dict(os.environ)
        env["NODE_PATH"] = os.path.join(HERE, "node_modules")
        self.proc = subprocess.Popen(
            ["node", RUNNER], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, env=env)

    def call(self, op: str, **kwargs) -> dict:
        req = {"op": op, **kwargs}
        try:
            self.proc.stdin.write(json.dumps(req) + "\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            raise RuntimeError("oracle subprocess died") from None
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("oracle subprocess died")
        return json.loads(line)

    def close(self, timeout: float = 30):
        """Stop the runner without raising: a runner that already died
        (broken stdin pipe) or hangs (killed after `timeout` seconds)
        must not turn into a teardown error on whichever test ran last.
        The test that hit the dead runner already failed in `call()`."""
        try:
            self.proc.stdin.close()
        except BrokenPipeError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
