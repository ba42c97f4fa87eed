"""The throwaway PostgreSQL of ``scripts/pg_harness.local_postgres`` is
stopped and removed when its process gets SIGTERM."""

from __future__ import annotations

import json
import os
import signal
import socket
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

CHILD = """
import json, sys, time
from scripts.pg_harness import HarnessUnavailable, local_postgres
try:
    with local_postgres() as pg:
        print(json.dumps(pg), flush=True)
        time.sleep(600)
except HarnessUnavailable as exc:
    print(json.dumps({"unavailable": str(exc)}), flush=True)
"""


def test_sigterm_stops_and_removes_cluster():
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD], cwd=REPO, stdout=subprocess.PIPE, text=True
    )
    try:
        pg = json.loads(child.stdout.readline() or "{}")
        if "unavailable" in pg:
            pytest.skip(f"local PostgreSQL unavailable: {pg['unavailable']}")
        assert os.path.isdir(pg["base"])
        socket.create_connection(("127.0.0.1", pg["port"]), timeout=5).close()
        child.send_signal(signal.SIGTERM)
        assert child.wait(timeout=60) == 128 + signal.SIGTERM
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    assert not os.path.exists(pg["base"])
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", pg["port"]), timeout=5).close()
