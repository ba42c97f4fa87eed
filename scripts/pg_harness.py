#!/usr/bin/env python
"""Throwaway local PostgreSQL harness (shared by tests/test_live_pg.py
and scripts/bench_wire.py).

Spawns a real PostgreSQL 15 cluster from the sandbox's binaries into a
tmpdir — privilege-dropped to the ``postgres`` system user when
running as root (PG refuses root) — with TLS on (self-signed cert) and
per-user auth methods in pg_hba.conf: trust for ``postgres``, md5 for
``md5user``, scram-sha-256 for ``scramuser``.  This mirrors the
reference's test topology (its CI boots a postgres:12 service,
``/root/reference/tests/test_general.py:10-46``) without Docker.
"""

from __future__ import annotations

import contextlib
import os
import pwd
import shutil
import signal
import socket
import subprocess
import tempfile
import threading
import time


def pg_binaries_reason() -> str | None:
    for b in ("initdb", "pg_ctl", "postgres", "psql"):
        if shutil.which(b) is None:
            return f"no `{b}` binary on PATH"
    return None


def run_user_prefix() -> list[str] | None:
    """Command prefix that runs PG as a non-root user (None = no way)."""
    if os.geteuid() != 0:
        return []
    try:
        pwd.getpwnam("postgres")
    except KeyError:
        return None
    if shutil.which("runuser") is None:
        return None
    return ["runuser", "-u", "postgres", "--"]


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def psql(port: int, sql: str, user: str = "postgres") -> str:
    p = subprocess.run(
        ["psql", "-h", "127.0.0.1", "-p", str(port), "-U", user, "-X",
         "-v", "ON_ERROR_STOP=1", "-At", "-c", sql],
        capture_output=True,
        text=True,
    )
    if p.returncode != 0:
        raise RuntimeError(f"psql failed: {p.stderr[-500:]}")
    return p.stdout.strip()


class HarnessUnavailable(RuntimeError):
    """Raised (with the reason) when no local PG can be spawned."""


def _exit_on_sigterm():
    """On the main thread, make the next SIGTERM raise ``SystemExit``
    (exit status 143), so the ``finally`` blocks it unwinds through run;
    the handler then puts the previous one back, so a second SIGTERM acts
    as before.  Returns the previous handler, or None off the main
    thread, where no handler can be set."""
    if threading.current_thread() is not threading.main_thread():
        return None
    previous = signal.getsignal(signal.SIGTERM)
    if previous is None:  # set outside Python
        previous = signal.SIG_DFL

    def on_sigterm(signum, frame):
        signal.signal(signal.SIGTERM, previous)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_sigterm)
    return previous


@contextlib.contextmanager
def local_postgres(seed_sql: str | None = None):
    """Context manager yielding {"port", "cert", "base"} for a running
    throwaway cluster; stops and deletes it on exit, also when the
    process gets SIGTERM on the main thread (it raises ``SystemExit``
    there while the cluster is up).  Raises :class:`HarnessUnavailable`
    with a reason when the environment cannot spawn one (callers
    translate to skip/exit)."""
    reason = pg_binaries_reason()
    if reason:
        raise HarnessUnavailable(f"needs local PostgreSQL binaries: {reason}")
    prefix = run_user_prefix()
    if prefix is None:
        raise HarnessUnavailable(
            "running as root with no `postgres` system user / runuser"
        )
    base = tempfile.mkdtemp(prefix="flaco_pg_")
    data = os.path.join(base, "data")
    port = free_port()
    previous = _exit_on_sigterm()
    try:
        if prefix:
            shutil.chown(base, user="postgres")
        r = subprocess.run(
            [*prefix, "initdb", "-D", data, "-A", "trust", "-U", "postgres"],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            raise HarnessUnavailable(f"initdb failed: {r.stderr[-300:]}")

        crt = os.path.join(base, "server.crt")
        key = os.path.join(base, "server.key")
        subprocess.run(
            ["openssl", "req", "-new", "-x509", "-days", "2", "-nodes",
             "-subj", "/CN=localhost", "-keyout", key, "-out", crt],
            check=True,
            capture_output=True,
        )
        os.chmod(key, 0o600)
        if prefix:
            shutil.chown(crt, user="postgres")
            shutil.chown(key, user="postgres")

        with open(os.path.join(data, "postgresql.conf"), "a") as f:
            f.write(
                f"\nlisten_addresses = '127.0.0.1'\nport = {port}\n"
                f"unix_socket_directories = '{base}'\n"
                f"ssl = on\nssl_cert_file = '{crt}'\nssl_key_file = '{key}'\n"
            )
        with open(os.path.join(data, "pg_hba.conf"), "w") as f:
            f.write(
                "local   all all                trust\n"
                "host    all scramuser 127.0.0.1/32 scram-sha-256\n"
                "host    all md5user   127.0.0.1/32 md5\n"
                "host    all all       127.0.0.1/32 trust\n"
            )

        r = subprocess.run(
            [*prefix, "pg_ctl", "-D", data, "-l", os.path.join(base, "log"),
             "-w", "-t", "60", "start"],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            log = ""
            try:
                with open(os.path.join(base, "log")) as fh:
                    log = fh.read()[-300:]
            except OSError:
                pass
            raise HarnessUnavailable(f"pg_ctl start failed: {r.stderr[-200:]} {log}")

        for _ in range(50):
            try:
                psql(port, "SELECT 1")
                break
            except RuntimeError:
                time.sleep(0.2)
        else:
            raise HarnessUnavailable("local PostgreSQL never became ready")

        psql(port, "SET password_encryption='scram-sha-256'; "
                   "CREATE ROLE scramuser LOGIN PASSWORD 'scr@m pw'")
        psql(port, "SET password_encryption='md5'; "
                   "CREATE ROLE md5user LOGIN PASSWORD 'm5pw'")
        if seed_sql:
            psql(port, seed_sql)

        yield {"port": port, "cert": crt, "base": base}
    finally:
        if previous is not None:
            signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the stop finish
        subprocess.run(
            [*(prefix or []), "pg_ctl", "-D", data, "-m", "immediate", "stop"],
            capture_output=True,
        )
        shutil.rmtree(base, ignore_errors=True)
        if previous is not None:
            signal.signal(signal.SIGTERM, previous)
