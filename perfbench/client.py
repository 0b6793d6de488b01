"""The load generator of the ``terminal_mixed`` workload: one process,
three closed-loop clients, one HTTP connection each.

- writer: POSTs the pre-written ``INSERT INTO users FORMAT JSONEachRow``
  batches in order;
- maintenance: ``OPTIMIZE TABLE users FINAL`` back to back;
- reader: a seeded mix of FINAL point lookups, a FINAL GROUP BY and a
  ``LIMIT BY`` top-N.

Each client sends its next request only after the previous reply, and
stops sending when the deadline passes. The reader checks each answer
against the writes acknowledged before the request was sent. Only the
standard library is used, so the generator shares nothing with the
server but the socket.

Run: ``python3 client.py <plan.json> <result.json>``.
"""

from __future__ import annotations

import calendar
import json
import random
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

ACCOUNT_TYPES = ("Bronze", "Silver", "Gold")
POINT = ("SELECT user_id, username, account_type, updated_at FROM users FINAL "
         "WHERE user_id = {key} FORMAT JSONEachRow")
GROUP = ("SELECT account_type, count() AS n FROM users FINAL "
         "GROUP BY account_type ORDER BY account_type FORMAT JSONEachRow")
TOP_N = ("SELECT account_type, user_id, updated_at FROM users FINAL "
         "ORDER BY account_type, updated_at DESC, user_id "
         "LIMIT 3 BY account_type FORMAT JSONEachRow")
# Assumption: a dashboard-like reader, mostly single-user lookups, with
# the account-type rollup and the top-N as its periodic panels.
READ_MIX = (("point", 0.6), ("group", 0.25), ("top_n", 0.15))


def _epoch(text: str) -> int:
    return calendar.timegm(time.strptime(text, "%Y-%m-%d %H:%M:%S"))


class Clients:
    def __init__(self, plan: dict) -> None:
        self.url = plan["url"]
        self.deadline = 0.0
        self.seconds = plan["seconds"]
        self.batches = plan["batches"]  # [[path, [[user_id, updated_s], ...]], ...]
        self.keys = plan["read_keys"]
        self.rng = random.Random(plan["seed"])
        # user_id -> highest updated_at (s) acknowledged so far
        self.acked = {int(k): v for k, v in plan["preloaded"].items()}
        self.requests: list[dict] = []
        self.acked_batches: list[int] = []
        self.lock = threading.Lock()

    def _send(self, client: str, kind: str, query: str, body: bytes | None = None) -> tuple[dict, bytes]:
        if body is None:
            url, data = self.url, query.encode()
        else:
            url, data = self.url + "?query=" + urllib.parse.quote(query), body
        req = urllib.request.Request(url, data=data, method="POST")
        rec = {"client": client, "kind": kind, "start": time.time(),
               "req_bytes": len(data), "status": None, "error": None}
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                payload = r.read()
                rec["status"] = r.status
        except urllib.error.HTTPError as e:
            payload = e.read()
            rec["status"] = e.code
            rec["error"] = payload.decode(errors="replace")[:300]
        except OSError as e:
            payload = b""
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["end"] = time.time()
        rec["resp_bytes"] = len(payload)
        rec["ok"] = rec["status"] == 200
        with self.lock:
            self.requests.append(rec)
        return rec, payload

    def writer(self) -> None:
        for i, (path, rows) in enumerate(self.batches):
            if time.time() >= self.deadline:
                return
            with open(path, "rb") as f:
                body = f.read()
            rec, _ = self._send("writer", "insert",
                                "INSERT INTO users FORMAT JSONEachRow", body)
            rec["batch"] = i
            if rec["ok"]:
                with self.lock:
                    for key, version in rows:
                        if version > self.acked.get(key, -1):
                            self.acked[key] = version
                    self.acked_batches.append(i)

    def maintenance(self) -> None:
        while time.time() < self.deadline:
            self._send("maintenance", "optimize", "OPTIMIZE TABLE users FINAL")

    def reader(self) -> None:
        kinds = [k for k, _ in READ_MIX]
        weights = [w for _, w in READ_MIX]
        while time.time() < self.deadline:
            kind = self.rng.choices(kinds, weights)[0]
            with self.lock:
                acked = dict(self.acked)
            if kind == "point":
                key = self.rng.choice(self.keys)
                rec, payload = self._send("reader", "select", POINT.format(key=key))
                problem = rec["ok"] and self._check_point(payload, key, acked.get(key))
            elif kind == "group":
                rec, payload = self._send("reader", "select", GROUP)
                problem = rec["ok"] and self._check_group(payload, len(acked))
            else:
                rec, payload = self._send("reader", "select", TOP_N)
                problem = rec["ok"] and self._check_top_n(payload)
            rec["read"] = kind
            if problem:
                rec["ok"] = False
                rec["error"] = problem

    @staticmethod
    def _rows(payload: bytes) -> list[dict]:
        return [json.loads(ln) for ln in payload.decode().splitlines() if ln.strip()]

    def _check_point(self, payload: bytes, key: int, acked_version) -> str | None:
        rows = self._rows(payload)
        if len(rows) > 1:
            return f"FINAL returned {len(rows)} rows for user_id {key}"
        if acked_version is None:
            return None
        if not rows:
            return f"acknowledged user_id {key} missing"
        if _epoch(rows[0]["updated_at"]) < acked_version:
            return f"user_id {key} older than its acknowledged version"
        return None

    @staticmethod
    def _check_group(payload: bytes, n_acked: int) -> str | None:
        rows = Clients._rows(payload)
        if any(r["account_type"] not in ACCOUNT_TYPES for r in rows):
            return "unknown account_type"
        total = sum(int(r["n"]) for r in rows)
        if total < n_acked:
            return f"{total} users counted, {n_acked} acknowledged"
        return None

    @staticmethod
    def _check_top_n(payload: bytes) -> str | None:
        rows = Clients._rows(payload)
        seen: dict[str, list] = {}
        for r in rows:
            seen.setdefault(r["account_type"], []).append(r)
        for kind, group in seen.items():
            if kind not in ACCOUNT_TYPES or len(group) > 3:
                return f"LIMIT 3 BY returned {len(group)} rows for {kind!r}"
            times = [_epoch(r["updated_at"]) for r in group]
            if times != sorted(times, reverse=True):
                return f"LIMIT 3 BY rows for {kind!r} out of order"
        return None

    def run(self) -> dict:
        cpu0 = time.process_time()
        self.deadline = time.time() + self.seconds
        threads = [threading.Thread(target=fn, name=fn.__name__, daemon=True)
                   for fn in (self.writer, self.maintenance, self.reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=self.seconds + 150)
        stuck = [t.name for t in threads if t.is_alive()]
        return {"requests": self.requests, "acked_batches": self.acked_batches,
                "cpu_s": time.process_time() - cpu0, "stuck": stuck}


def main() -> None:
    plan_path, out_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as f:
        plan = json.load(f)
    result = Clients(plan).run()
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
