"""Open-loop raw log-line generator for the ``http_stream`` workload.

Run as its own process (one thread): it writes files of raw log lines
into a directory on a fixed schedule that does not slow down when the
pipeline does. Each file is written under a temporary name and renamed
into place, so the file source never sees a partial file. The generator
records each file's due time, creation time and line count in a
manifest, which the benchmark reads after the run.

Lines are Stackdriver GLB ``LogEntry`` and nginx (Stackdriver
``jsonPayload`` variant 2) in equal shares, with Zipf-skewed source IPs,
about 10% 4xx statuses, about 1% blocklisted user agents, a few
malformed lines and a few events out of order by less than the
watermark delay.

A line's event time is ``BASE_EPOCH`` plus its file's scheduled offset
from the generator's start, so the content of every file depends on the
seed alone, while event time advances at the speed of the wall clock.

Usage::

    python3 perfbench/loadgen.py --out DIR --plan PLAN.json --seed N \
        --manifest MANIFEST.json --start EPOCH_SECONDS --max-late SECONDS
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import time
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

BASE_EPOCH = 1704067200.0  # 2024-01-01T00:00:00Z = event time 0
N_IPS = 400
ZIPF_S = 1.1
ERROR_SHARE = 0.10
BLOCKED_SHARE = 0.01
MALFORMED_SHARE = 0.004
LATE_SHARE = 0.03
BLOCKED_AGENTS = ["sqlmap/1.7.2#stable", "Nikto/2.1.6", "masscan/1.3"]
UA_BLOCKLIST = ["^sqlmap", "(?i)nikto", "^masscan"]
AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:128.0) Gecko/20100101 Firefox/128.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/126.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) AppleWebKit/605.1.15 Safari/17.5",
    "curl/8.5.0",
]
PATHS = ["/", "/login", "/api/v1/items", "/api/v1/search", "/static/app.js"]
ERROR_CODES = [400, 401, 403, 404, 429]
OK_CODES = [200, 200, 200, 200, 301, 304]
GLB_TYPE = "type.googleapis.com/google.cloud.loadbalancing.type.LoadBalancerLogEntry"


@dataclass(frozen=True)
class FilePlan:
    """One scheduled file: due ``due_s`` after the generator starts,
    holding ``n_lines`` events with event times in ``[t0, t1)``."""

    name: str
    due_s: float
    t0: float
    t1: float
    n_lines: int
    phase: str


def _ip_table(n: int = N_IPS) -> tuple[list[str], list[float]]:
    ips = [f"198.51.{k // 250}.{k % 250 + 1}" for k in range(n)]
    cum, acc = [], 0.0
    for k in range(n):
        acc += 1.0 / (k + 1) ** ZIPF_S
        cum.append(acc)
    return ips, [c / acc for c in cum]


_IPS, _IP_CUM = _ip_table()


def iso(event_s: float) -> str:
    """Event time (seconds after BASE_EPOCH) as RFC 3339 with microseconds."""
    us = round((BASE_EPOCH + event_s) * 1e6)
    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{us % 1_000_000:06d}Z"


def event_seconds(iso_ts: str) -> float:
    """Inverse of ``iso``."""
    dt = datetime.fromisoformat(iso_ts.replace("Z", "+00:00"))
    return dt.timestamp() - BASE_EPOCH


def _glb(ts: str, ip: str, method: str, path: str, status: int, ua: str) -> dict:
    return {
        "timestamp": ts,
        "resource": {"type": "http_load_balancer",
                     "labels": {"project_id": "bench-edge"}},
        "jsonPayload": {"@type": GLB_TYPE},
        "httpRequest": {
            "remoteIp": ip, "requestMethod": method,
            "requestUrl": f"https://www.example.com{path}",
            "status": status, "userAgent": ua,
        },
    }


def _nginx(ts: str, ip: str, method: str, path: str, status: int, ua: str) -> dict:
    return {
        "timestamp": ts,
        "resource": {"type": "k8s_container",
                     "labels": {"project_id": "bench-app"}},
        "jsonPayload": {
            "remote_ip": ip, "request": f"{method} {path} HTTP/1.1",
            "code": str(status), "agent": ua, "referrer": "-",
            "host": "app.example.com",
        },
    }


def file_lines(seed: int, plan: FilePlan, max_late_s: float) -> list[str]:
    """The lines of one file. Depends only on ``seed`` and ``plan``."""
    rng = random.Random(f"{seed}/{plan.name}")
    out = []
    span = plan.t1 - plan.t0
    for _ in range(plan.n_lines):
        t = plan.t0 + rng.random() * span
        if rng.random() < LATE_SHARE:
            t -= rng.random() * max_late_s
        ip = _IPS[bisect.bisect_left(_IP_CUM, rng.random())]
        method = "POST" if rng.random() < 0.2 else "GET"
        path = rng.choice(PATHS)
        if rng.random() < ERROR_SHARE:
            status = rng.choice(ERROR_CODES)
        else:
            status = rng.choice(OK_CODES)
        if rng.random() < BLOCKED_SHARE:
            ua = rng.choice(BLOCKED_AGENTS)
        else:
            ua = rng.choice(AGENTS)
        shape = _glb if rng.random() < 0.5 else _nginx
        line = json.dumps(shape(iso(t), ip, method, path, status, ua),
                          separators=(",", ":"))
        if rng.random() < MALFORMED_SHARE:
            line = line[: len(line) // 2] if rng.random() < 0.5 else f"garbage {rng.random()}"
        out.append(line)
    return out


def closing_line(event_s: float) -> str:
    """One benign GLB line far ahead in event time: it advances the
    watermark past every window and raises no alert itself."""
    return json.dumps(_glb(iso(event_s), "192.0.2.1", "GET", "/", 200, AGENTS[0]),
                      separators=(",", ":"))


def make_plan(phase1_s: float, phase1_rate: int, interval_s: float,
              burst_lines: int, burst_files: int, burst_s: float,
              start_s: float = 0.0, phase0_s: float = 0.0) -> list[FilePlan]:
    """Phase 0 (warm-up, not measured) and phase 1: one file every
    ``interval_s`` at ``phase1_rate`` lines/s. Phase 2: ``burst_lines``
    lines in ``burst_files`` files within ``burst_s``, far above the
    pipeline's capacity."""
    plans = []
    per_file = max(1, round(phase1_rate * interval_s))
    t = start_s
    for phase, length in (("phase0", phase0_s), ("phase1", phase1_s)):
        for i in range(round(length / interval_s)):
            plans.append(FilePlan(f"{phase[0]}{phase[-1]}-{i:05d}", t + interval_s, t,
                                  t + interval_s, per_file, phase))
            t += interval_s
    t2 = t
    step = burst_s / burst_files
    per_file = burst_lines // burst_files
    for i in range(burst_files):
        t = t2 + i * step
        plans.append(FilePlan(f"p2-{i:05d}", t + step, t, t + step, per_file, "phase2"))
    return plans


def run(out_dir: str, plans: list[FilePlan], seed: int, start: float,
        max_late_s: float) -> list[dict]:
    """Write every planned file at its due time (``start`` + ``due_s``,
    wall clock); return one manifest record per file."""
    tmp_dir = os.path.join(os.path.dirname(os.path.abspath(out_dir)),
                           "." + os.path.basename(out_dir) + ".tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    records = []
    for p in plans:
        data = "\n".join(file_lines(seed, p, max_late_s)) + "\n"
        due = start + p.due_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(tmp_dir, p.name + ".json")
        with open(tmp, "w") as f:
            f.write(data)
        os.rename(tmp, os.path.join(out_dir, p.name + ".json"))
        created = time.time()
        records.append({**asdict(p), "due": due, "created": created,
                        "lateness_s": max(0.0, created - due)})
    return records


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--max-late", type=float, required=True)
    a = ap.parse_args()
    with open(a.plan) as f:
        plans = [FilePlan(**p) for p in json.load(f)]
    records = run(a.out, plans, a.seed, a.start, a.max_late)
    with open(a.manifest + ".tmp", "w") as f:
        json.dump(records, f)
    os.rename(a.manifest + ".tmp", a.manifest)


if __name__ == "__main__":
    main()
