"""Open-loop event generator, run as its own process.

Every ``TICK_S`` seconds it writes one Parquet file of ``events``-schema rows
into ``--out``: the events due by then. It never waits for the engine; a late
tick is written as soon as possible and its lateness is logged. Event time is
creation time; a share ``OOO_SHARE`` of events is delivered late (out of
order) by up to ``MAX_DELAY_S`` seconds. Users follow a Zipf law (exponent
``ZIPF_S``) over ``USERS`` ids.

Two phases. Warm-up events arrive at ``--warm-rate`` until the file ``--go``
appears; it holds the wall-clock start of the measured schedule, a list of
(rate, seconds, burst) rungs. A burst rung's events are all delivered at the
rung's end, in one file. The rungs' events are drawn from their own seeded
stream, so a seed always yields the same measured events, shifted in time.
On exit it writes ``--log`` (JSON): per file, its due time, write time and
row count.

Usage: python3 eventgen.py --out DIR --log FILE --go FILE --seed N \
           --warm-rate R --schedule '[[rate, seconds, burst], ...]'
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])
TICK_S = 0.2
USERS = 100_000
ZIPF_S = 1.1
OOO_SHARE = 0.1
MAX_DELAY_S = 1.0  # out-of-order delivery stays within the watermark slack
RUNG_ID_BASE = 1_000_000_000  # measured events' ids, above any warm-up id
GIVE_UP_S = 150.0  # no go signal by then: the benchmark has failed


class Events:
    """Draws events with the workload's key, type and value distributions."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.cdf = np.cumsum(np.arange(1, USERS + 1, dtype=np.float64) ** -ZIPF_S)
        self.perm = rng.permutation(USERS)

    def draw(self, ts: np.ndarray, first_id: int) -> tuple[np.ndarray, dict]:
        """Columns for events created at ``ts``, and their delivery times."""
        rng, n = self.rng, len(ts)
        ranks = np.searchsorted(self.cdf, rng.random(n) * self.cdf[-1])
        late = rng.random(n) < OOO_SHARE
        deliver = ts + np.where(late, rng.uniform(0.0, MAX_DELAY_S, n), 0.0)
        return deliver, {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": (ts * 1e6).astype(np.int64),
            "user_id": self.perm[np.minimum(ranks, len(self.perm) - 1)].astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }


def poisson_times(rng: np.random.Generator, rate: float, start: float, secs: float) -> np.ndarray:
    return np.sort(start + rng.uniform(0.0, secs, rng.poisson(rate * secs)))


class Pending:
    """Events generated but not yet delivered, ordered by delivery time."""

    def __init__(self):
        self.deliver = np.empty(0)
        self.cols: dict[str, np.ndarray] = {}

    def add(self, deliver: np.ndarray, cols: dict) -> None:
        if not self.cols:
            self.deliver, self.cols = deliver, cols
        else:
            self.deliver = np.concatenate([self.deliver, deliver])
            self.cols = {k: np.concatenate([v, cols[k]]) for k, v in self.cols.items()}
        order = np.argsort(self.deliver, kind="stable")
        self.deliver = self.deliver[order]
        self.cols = {k: v[order] for k, v in self.cols.items()}

    def take(self, until: float) -> dict | None:
        if not self.cols:
            return None
        n = int(np.searchsorted(self.deliver, until, side="right"))
        out = {k: v[:n] for k, v in self.cols.items()}
        self.deliver = self.deliver[n:]
        self.cols = {k: v[n:] for k, v in self.cols.items()}
        return out


def write_file(out: str, seq: int, cols: dict) -> None:
    table = pa.table({
        **cols, "ts": pa.array(cols["ts"].astype("datetime64[us]"), type=pa.timestamp("us")),
    }, schema=SCHEMA)
    tmp = os.path.join(out, f".part-{seq:06d}.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out, f"part-{seq:06d}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--warm-rate", type=float, required=True)
    ap.add_argument("--schedule", required=True)
    args = ap.parse_args()
    schedule = json.loads(args.schedule)
    warm = Events(np.random.default_rng([args.seed, 0]))
    os.makedirs(args.out, exist_ok=True)

    pending, files, seq, n_warm, n_events = Pending(), [], 0, 0, 0
    start = due = time.time()
    t_go = end = None
    while end is None or due < end or len(pending.deliver):
        if t_go is None and os.path.exists(args.go):
            with open(args.go) as f:
                t_go = float(f.read())
            rung = Events(np.random.default_rng([args.seed, 1]))
            ts, held, t = [], [], t_go
            for rate, secs, burst in schedule:
                ts.append(poisson_times(rung.rng, rate, t, secs))
                held.append(np.full(len(ts[-1]), t + secs if burst else np.nan))
                t += secs
            end = t + MAX_DELAY_S
            ts = np.concatenate(ts)
            held = np.concatenate(held)
            deliver, cols = rung.draw(ts, RUNG_ID_BASE)
            pending.add(np.where(np.isnan(held), deliver, held), cols)
            n_events += len(ts)
        elif t_go is None and due - start > GIVE_UP_S:
            break
        warm_end = due if t_go is None else min(due, t_go)
        if warm_end > due - TICK_S:
            ts = poisson_times(warm.rng, args.warm_rate, due - TICK_S,
                               warm_end - (due - TICK_S))
            pending.add(*warm.draw(ts, n_warm))
            n_warm += len(ts)
            n_events += len(ts)
        now = time.time()
        if now < due:
            time.sleep(due - now)
        cols = pending.take(due)
        if cols is not None and len(cols["event_id"]):
            write_file(args.out, seq, cols)
            files.append({"seq": seq, "due": due, "written": time.time(),
                          "rows": len(cols["event_id"])})
            seq += 1
        due += TICK_S
    with open(args.log + ".tmp", "w") as f:
        json.dump({"files": files, "events": n_events, "t_go": t_go}, f)
    os.rename(args.log + ".tmp", args.log)


if __name__ == "__main__":
    main()
