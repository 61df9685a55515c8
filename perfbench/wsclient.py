"""Minimal RFC 6455 client: one connection that stamps every TEXT frame
with its receipt time. Stands in for the live dashboard reading the
Top-20 feed of `streaming.websocket.TopNWebSocketServer`."""

from __future__ import annotations

import base64
import os
import socket
import struct
import threading
import time


class FrameRecorder:
    def __init__(self, host: str, port: int) -> None:
        self.frames: list[tuple[float, str]] = []
        self.arrived = threading.Condition()
        self._sock = socket.create_connection((host, port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode("ascii")
        self._sock.sendall(
            (
                "GET / HTTP/1.1\r\n"
                f"Host: {host}:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode("ascii")
        )
        reply = b""
        while b"\r\n\r\n" not in reply:
            chunk = self._sock.recv(4096)
            if not chunk:
                raise ConnectionError("server closed during the WebSocket handshake")
            reply += chunk
        if b" 101 " not in reply.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"WebSocket upgrade refused: {reply[:80]!r}")
        self._buf = reply.split(b"\r\n\r\n", 1)[1]
        self._sock.settimeout(None)
        self._thread = threading.Thread(target=self._read_loop, daemon=True)
        self._thread.start()

    def _read(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise EOFError
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_loop(self) -> None:
        try:
            while True:
                b0, b1 = self._read(2)
                n = b1 & 0x7F
                if n == 126:
                    (n,) = struct.unpack("!H", self._read(2))
                elif n == 127:
                    (n,) = struct.unpack("!Q", self._read(8))
                payload = self._read(n)
                if b0 & 0x0F == 0x8:  # CLOSE
                    return
                if b0 & 0x0F == 0x1:
                    with self.arrived:
                        self.frames.append((time.time(), payload.decode("utf-8")))
                        self.arrived.notify_all()
        except (EOFError, OSError):
            return

    def wait_for(self, count: int, timeout: float) -> bool:
        with self.arrived:
            return self.arrived.wait_for(lambda: len(self.frames) >= count, timeout)

    def close(self) -> None:
        try:
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self._sock.close()
        self._thread.join(5)
