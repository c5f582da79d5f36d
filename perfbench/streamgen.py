"""Deterministic event files for the ``stream`` workload, and the
open-loop writer process that lands them on a wall-clock schedule.

File ``i`` holds events whose synthetic event times lie in
``[BASE + i*DT, BASE + (i+1)*DT)``: a pure function of ``(seed, i)``,
ascending per card across files, and already spanning more than one
10-minute window by the end of warm-up. Cards are drawn uniformly from
the generator's 10 k card ids; G5 fraud bursts (3-10 events on one card,
30-120 s apart) start in about one file in twenty and run across files.
"""

from __future__ import annotations

import json
import os
import random
import time

VISA_PREFIX = 4_000_000_000_000_000
N_CARDS = 10_000
BASE = 1_600_000_000  # 2020-09-13 event time of file 0
DT = 10  # event-time seconds per file
BURST_P = 0.05
BURST_LEN = (3, 10)
BURST_GAP = (30, 120)
LOOKBACK = (BURST_LEN[1] - 1) * BURST_GAP[1] // DT + 1


def card(i):
    return VISA_PREFIX + i * 17 + 11


def _amount(rng):
    """G3 five-bucket mixture, 2 dp."""
    u = rng.random()
    if u < 0.05:
        a = 0.01 + u / 0.05 * 0.99
    elif u < 0.125:
        a = 1.0 + (u - 0.05) / 0.075 * 10.0
    elif u < 0.65:
        a = 10.0 + (u - 0.125) / 0.525 * 90.0
    elif u < 0.90:
        a = 100.0 + (u - 0.65) / 0.25 * 900.0
    else:
        a = 1000.0 + (u - 0.90) / 0.10 * 9000.0
    return round(a, 2)


def _burst(seed, start):
    """The burst starting in file ``start``, or None."""
    rng = random.Random(f"{seed}:burst:{start}")
    if rng.random() >= BURST_P:
        return None
    n = rng.randint(*BURST_LEN)
    gap = rng.randint(*BURST_GAP)
    t0 = BASE + start * DT + rng.randrange(DT * 1000) / 1000.0
    c = card(rng.randrange(N_CARDS))
    return [(t0 + k * gap, c, round(1.0 + rng.random() * 99.0, 2)) for k in range(n)]


def file_events(seed, i, n_base):
    """Events of file ``i``: ``n_base`` regular ones plus burst steps."""
    rng = random.Random(f"{seed}:file:{i}")
    lo, hi = BASE + i * DT, BASE + (i + 1) * DT
    evs = [
        (lo + rng.randrange(DT * 1000) / 1000.0, card(rng.randrange(N_CARDS)), _amount(rng))
        for _ in range(n_base)
    ]
    for s in range(max(0, i - LOOKBACK), i + 1):
        for ev in _burst(seed, s) or ():
            if lo <= ev[0] < hi:
                evs.append(ev)
    evs.sort()
    return [
        {"cc_num": c, "merchant": "m", "amount": a, "zip_code": 10001, "trans_ts": t}
        for t, c, a in evs
    ]


def file_bytes(seed, i, n_base):
    evs = file_events(seed, i, n_base)
    return "\n".join(json.dumps(e, sort_keys=True) for e in evs).encode(), len(evs)


def land(dirname, i, data):
    """Write file ``i`` atomically (hidden temp name, then rename)."""
    tmp = os.path.join(dirname, f".{i:07d}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(dirname, f"{i:07d}.json"))


def writer(dirname, seed, first, count, n_base, rate, t0, out_q):
    """Open-loop writer (run in its own process): file ``first + k`` is
    due at ``t0 + k / rate`` wall-clock seconds and is written then,
    never waiting for the consumer. Reports ``(index, due, written,
    events)`` per file through ``out_q``."""
    # payloads are built ahead so lateness measures the schedule only
    payloads = [file_bytes(seed, first + k, n_base) for k in range(count)]
    log = []
    for k, (data, n) in enumerate(payloads):
        due = t0 + k / rate
        d = due - time.time()
        if d > 0:
            time.sleep(d)
        land(dirname, first + k, data)
        log.append((first + k, due, time.time(), n))
    out_q.put(log)
