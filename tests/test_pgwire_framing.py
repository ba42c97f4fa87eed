"""Execute-page framing without a server: ``PgWireConnection._read_page``
fed by a fake backend over ``socket.socketpair``.

The fake backend sends a scripted byte stream in chunks of a fixed
size, and the client receives at most that many bytes per ``recv``, so
messages split at every possible point.  The DataRow offsets
``_read_page`` returns are compared with the sequential walk of
``tests/pgwire_oracle.py`` over the same bytes.
"""

from __future__ import annotations

import random
import socket
import struct
import sys
import threading
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flaco_spark.errors import EngineError  # noqa: E402
from flaco_spark.sources import pgwire  # noqa: E402
from tests import pgwire_oracle as oracle  # noqa: E402
from tests.pgwire_oracle import data_row, message  # noqa: E402

NOTICE = message(b"N", b"SWARNING\0C01000\0Mnotice between rows\0\0")
PARAMETER = message(b"S", b"application_name\0flaco_spark\0")
SUSPENDED = message(b"s")
COMPLETE = message(b"C", b"SELECT 3\0")
READY = message(b"Z", b"I")
SYNC = message(b"S")


class FakeBackend:
    """Sends ``script`` to a client connection in ``chunk``-byte
    pieces from a thread, then closes its end if ``hang_up``."""

    def __init__(self, script: bytes, chunk: int, hang_up: bool = False) -> None:
        self.client_sock, self.sock = socket.socketpair()
        self.conn = pgwire.PgWireConnection.__new__(pgwire.PgWireConnection)
        self.conn.info = pgwire.PgConnInfo(host="fake-backend", port=0)
        self.conn._sock, self.conn._buf, self.conn._pos = self.client_sock, bytearray(), 0
        self._thread = threading.Thread(
            target=self._send, args=(script, chunk, hang_up), daemon=True
        )
        self._thread.start()

    def _send(self, script: bytes, chunk: int, hang_up: bool) -> None:
        try:
            for i in range(0, len(script), chunk):
                self.sock.sendall(script[i : i + chunk])
            if hang_up:
                self.sock.shutdown(socket.SHUT_WR)
        except OSError:
            pass  # the client went away first

    def received(self) -> bytes:
        """What the client has sent so far."""
        try:
            return self.sock.recv(1 << 16, socket.MSG_DONTWAIT)
        except BlockingIOError:
            return b""

    def close(self) -> None:
        self.client_sock.close()
        self._thread.join(timeout=10)
        self.sock.close()


@pytest.fixture
def backend(monkeypatch):
    """``backend(script, chunk, hang_up=False)``: a FakeBackend whose
    client receives at most ``chunk`` bytes per recv."""
    made = []

    def start(script: bytes, chunk: int, hang_up: bool = False) -> FakeBackend:
        monkeypatch.setattr(pgwire, "_RECV_BYTES", chunk)
        made.append(FakeBackend(script, chunk, hang_up))
        return made[-1]

    yield start
    for b in made:
        b.close()


def _value(rng: random.Random) -> bytes | None:
    """A bytea/text value that often looks like message framing: 0x44
    bytes, a 'D' with a plausible length, or a whole DataRow."""
    kind = rng.randrange(6)
    if kind == 0:
        return None
    if kind == 1:
        return b""
    if kind == 2:  # a 'D' header whose length lands inside this row or past it
        return b"D" + struct.pack("!i", rng.choice([6, 7, 12, 40, 5000])) + b"D" * rng.randrange(4)
    if kind == 3:  # a complete DataRow message inside the value
        return data_row([b"D" * rng.randrange(8), None])
    n = rng.randrange(1, 60)
    return bytes(rng.choice(b"D\0\x04\x06" + bytes(range(32, 127))) for _ in range(n))


def _page(rng: random.Random, rows: int, last: bytes) -> bytes:
    """DataRows with notices, parameter reports and zero-column rows
    between them, ended by ``last``."""
    out = bytearray()
    for _ in range(rows):
        r = rng.randrange(20)
        if r == 0:
            out += NOTICE
        elif r == 1:
            out += PARAMETER
        elif r == 2:
            out += data_row([])
        out += data_row([_value(rng) for _ in range(rng.randrange(1, 5))])
    return bytes(out + last)


def _check_pages(conn, script: bytes, ends: list[bytes]) -> None:
    """Reads one page per entry of ``ends`` and checks each against the
    sequential walk of the same bytes."""
    start = 0
    for last in ends:
        want, end = oracle.walk_datarows(script, start)
        page, starts, done = conn._read_page()
        assert starts.dtype == np.int64
        assert starts.tolist() == [s - start for s in want]
        assert bytes(page[: end - start]) == script[start:end]
        assert done == (last != SUSPENDED)
        start = end


@pytest.mark.parametrize("chunk", [1, 2, 5, 7, 64, 1000, 65_536, 300_000])
def test_read_page_matches_sequential_walk(backend, chunk):
    rng = random.Random(chunk)
    rows = 150 if chunk < 64 else 4000
    ends = [SUSPENDED, SUSPENDED, COMPLETE]
    script = b"".join(_page(rng, rows, last) for last in ends)
    b = backend(script, chunk)
    _check_pages(b.conn, script, ends)
    assert b.conn._buf == b"" and b.conn._pos == 0


def test_zero_column_rows_and_empty_pages(backend):
    ends = [SUSPENDED, SUSPENDED, COMPLETE]
    script = (
        data_row([]) + data_row([]) + SUSPENDED
        + NOTICE + SUSPENDED  # a page without rows
        + data_row([]) + PARAMETER + data_row([b"D"]) + COMPLETE
    )
    b = backend(script, 3)
    _check_pages(b.conn, script, ends)


def test_error_mid_page_raises_and_connection_recovers(backend):
    """An ErrorResponse after some DataRows raises an EngineError naming
    the server's error; the client sends Sync, reads up to
    ReadyForQuery, and the next page reads cleanly."""
    rng = random.Random(3)
    first = _page(rng, 50, b"")
    error = message(b"E", b"SERROR\0C22012\0Mdivision by zero\0\0")
    after = _page(rng, 30, COMPLETE)
    script = first + error + READY + after
    b = backend(script, 100)
    with pytest.raises(EngineError, match="22012: division by zero"):
        b.conn._read_page()
    assert b.received() == SYNC
    pos = b.conn._pos  # ReadyForQuery was read from the same buffer
    page, starts, done = b.conn._read_page()
    want, end = oracle.walk_datarows(page, pos)
    assert done and starts.tolist() == want and bytes(page[pos:end]) == after


def test_disconnect_mid_datarow_raises(backend):
    row = data_row([b"abcdefgh" * 10, None])
    script = row + row + row[: len(row) // 2]
    b = backend(script, 16, hang_up=True)
    with pytest.raises(EngineError, match="closed the connection mid-message"):
        b.conn._read_page()


@pytest.mark.parametrize(
    "bad", [message(b"D", b"\0"), b"D" + struct.pack("!i", 2), message(b"T")]
)
def test_malformed_message_raises(backend, bad):
    b = backend(data_row([b"x"]) + bad + COMPLETE, 1000)
    with pytest.raises(EngineError, match="malformed|unexpected"):
        b.conn._read_page()


@pytest.fixture
def walked(monkeypatch):
    """The byte count of every ``_walk_datarows`` call's scan."""
    scans = []
    walk = pgwire._walk_datarows

    def counting(buf, pos, have):
        scans.append(have - pos)
        return walk(buf, pos, have)

    monkeypatch.setattr(pgwire, "_walk_datarows", counting)
    return scans


def test_large_value_is_walked_once(backend, walked):
    """A single 8 MiB value arrives over many recvs; the walk starts
    only once the message is whole, so the bytes it scans stay within
    twice the bytes received (a walk after every recv would scan
    about 16 times them)."""
    value = bytes(random.Random(8).choice(b"D\0xyz") for _ in range(1 << 16)) * 128
    script = data_row([b"head"]) + data_row([value]) + data_row([b"tail"]) + COMPLETE
    b = backend(script, 1 << 18)
    _check_pages(b.conn, script, [COMPLETE])
    assert sum(walked) <= 2 * len(script)


def test_notices_between_rows_are_walked_once(backend, walked):
    """Notices and parameter reports between DataRows do not end the
    walk, so it does not rescan the rows after each of them."""
    rng = random.Random(9)
    rows = [data_row([_value(rng) for _ in range(3)]) for _ in range(6000)]
    script = b"".join(r + (NOTICE if i % 2 else PARAMETER) for i, r in enumerate(rows))
    script += COMPLETE
    b = backend(script, 1 << 18)
    _check_pages(b.conn, script, [COMPLETE])
    assert sum(walked) <= 2 * len(script)


@pytest.mark.parametrize("interrupt", [KeyboardInterrupt, SystemExit])
def test_interrupt_mid_page_drops_the_connection(backend, interrupt):
    """A signal raised while a page is being received (Ctrl-C, or
    SIGTERM turned into SystemExit) may lose bytes already received, so
    the stream cannot be drained to ReadyForQuery: the read re-raises at
    once and the connection is closed.  The server here never sends
    ReadyForQuery, as after a lost chunk; the client's timeout only
    bounds how long a drain would wait."""
    describe = (
        message(b"1") + message(b"t", b"\0\0")
        + message(b"T", struct.pack("!h", 1) + b"x\0" + struct.pack("!ihihih", 0, 0, 23, 4, -1, 1))
    )
    rows = b"".join(data_row([struct.pack("!i", k)]) for k in range(200))
    b = backend(describe + message(b"2") + rows, 64)
    b.client_sock.settimeout(5)
    fill, fills = b.conn._fill, []

    def interrupted_fill():
        fills.append(1)
        if len(fills) == 20:
            raise interrupt()
        fill()

    b.conn._fill = interrupted_fill
    _, batches = b.conn.query_batches("SELECT x", 1000)
    with pytest.raises(interrupt):
        next(batches)
    assert len(fills) == 20
    assert b.conn._sock is None
