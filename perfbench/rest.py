"""HTTP client for the engine's REST control plane."""

from __future__ import annotations

import http.client
import json


class RestClient:
    """One client connection; every request is a ``server`` span when
    tracing, stamped with the response status."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, method: str, path: str, body, tracer, route: str):
        with tracer.span(route, "server") as rec:
            self.conn.request(method, path, body=None if body is None else json.dumps(body),
                              headers={"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            payload = json.loads(resp.read())
            if rec is not None:
                rec["status"] = resp.status
        return resp.status, payload

    def close(self) -> None:
        self.conn.close()
