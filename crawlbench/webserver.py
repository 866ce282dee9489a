"""Local web for the HTTP workload: one process, one event-loop thread.

The engine reaches it as its ``http_proxy`` (plain-http proxies get
absolute-URI requests), so every generated host is served from one
socket with no engine change. Pages are the web's ``pages.parquet``
(served with a content ETag; a matching ``If-None-Match`` gets 304),
``/robots.txt`` comes from ``robots.parquet`` per host, anything else
is 404. On SIGTERM the server writes its counters as JSON and exits.

    python3 crawlbench/webserver.py --web DIR --port-file F --stats-file F
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import selectors
import signal
import socket
from urllib.parse import urlsplit

import pyarrow.parquet as pq


def load_site(web: str) -> tuple[dict, dict]:
    t = pq.read_table(os.path.join(web, "pages.parquet"), columns=["url", "html"])
    pages = {}
    for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
        pages[u] = (h, '"%s"' % hashlib.md5(h).hexdigest()[:16])
    robots = {
        r["host"]: (r["robots_txt"] or "").encode()
        for r in pq.read_table(os.path.join(web, "robots.parquet")).to_pylist()
    }
    return pages, robots


class Server:
    def __init__(self, pages: dict, robots: dict):
        self.pages, self.robots = pages, robots
        self.stats = dict(
            connections=0, requests=0, ok=0, not_modified=0, not_found=0,
            robots=0, errors=0,
        )
        self.sel = selectors.DefaultSelector()
        self.stop = False

    def respond(self, method: str, target: str, headers: dict) -> bytes:
        self.stats["requests"] += 1
        parts = urlsplit(target)
        host = (parts.hostname or headers.get("host", "")).lower()
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        extra = ""
        if path == "/robots.txt" and host in self.robots:
            self.stats["robots"] += 1
            status, body = "200 OK", self.robots[host]
        else:
            hit = self.pages.get(f"http://{host}{path}")
            if hit is None:
                self.stats["not_found"] += 1
                status, body = "404 Not Found", b"not found"
            elif headers.get("if-none-match") == hit[1]:
                self.stats["not_modified"] += 1
                status, body, extra = "304 Not Modified", b"", f"ETag: {hit[1]}\r\n"
            else:
                self.stats["ok"] += 1
                status, body = "200 OK", hit[0]
                extra = f"ETag: {hit[1]}\r\nContent-Type: text/html; charset=utf-8\r\n"
        if method == "HEAD":
            body = b""
        head = f"HTTP/1.1 {status}\r\n{extra}Content-Length: {len(body)}\r\n\r\n"
        return head.encode() + body

    def on_readable(self, conn: socket.socket, state: dict) -> None:
        try:
            data = conn.recv(65536)
        except ConnectionError:
            data = b""
        if not data:
            self.close(conn)
            return
        state["buf"] += data
        out = []
        while b"\r\n\r\n" in state["buf"]:
            raw, state["buf"] = state["buf"].split(b"\r\n\r\n", 1)
            lines = raw.decode("latin-1").split("\r\n")
            try:
                method, target, _version = lines[0].split(" ", 2)
            except ValueError:
                self.stats["errors"] += 1
                out.append(b"HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\nConnection: close\r\n\r\n")
                state["close"] = True
                break
            headers = {}
            for line in lines[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            out.append(self.respond(method, target, headers))
            if headers.get("connection", "").lower() == "close":
                state["close"] = True
                break
        if out:
            try:
                conn.sendall(b"".join(out))
            except OSError:
                self.stats["errors"] += 1
                self.close(conn)
                return
        if state.get("close"):
            self.close(conn)

    def close(self, conn: socket.socket) -> None:
        self.sel.unregister(conn)
        conn.close()

    def serve(self, lsock: socket.socket) -> None:
        lsock.setblocking(False)
        self.sel.register(lsock, selectors.EVENT_READ, None)
        while not self.stop:
            for key, _ in self.sel.select(timeout=0.2):
                if key.data is None:
                    try:
                        conn, _addr = lsock.accept()
                    except BlockingIOError:
                        continue
                    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    # blocking sends: responses are small and the client
                    # reads them before sending again
                    conn.setblocking(True)
                    self.stats["connections"] += 1
                    self.sel.register(conn, selectors.EVENT_READ, {"buf": b""})
                else:
                    self.on_readable(key.fileobj, key.data)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--web", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--stats-file", required=True)
    args = ap.parse_args()
    srv = Server(*load_site(args.web))

    def _term(*_):
        srv.stop = True

    signal.signal(signal.SIGTERM, _term)
    lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(256)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(lsock.getsockname()[1]))
    os.replace(tmp, args.port_file)
    srv.serve(lsock)
    with open(args.stats_file, "w") as f:
        json.dump(srv.stats, f)


if __name__ == "__main__":
    main()
