"""Open-loop load generator, run as its own process.

Appends pre-encoded records to a FakeBroker topic on a fixed schedule:
record i is due at t0 + i / rate (wall clock, shared with run.py).
Records already due when the generator wakes are appended together, at
most 500 per produce call, the reference producer's batch size. The
schedule never waits for the consumer. At the end it writes how late it
ran and how long its broker calls took.

    python3 perfbench/loadgen.py --broker DIR --topic T --input FILE \
        --rate R --t0 EPOCH --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRODUCE_BATCH = 500


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--broker", required=True)
    ap.add_argument("--topic", required=True)
    ap.add_argument("--input", required=True,
                    help="JSON lines of [key_hex, value_hex_or_null]")
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from deimos_spark.streaming.fakebroker import FakeBroker

    with open(args.input) as fh:
        recs = [json.loads(line) for line in fh]
    recs = [
        (bytes.fromhex(k), None if v is None else bytes.fromhex(v))
        for k, v in recs
    ]
    broker = FakeBroker(args.broker)
    late_max = 0.0
    produce_s = 0.0
    calls = 0
    i = 0
    while i < len(recs):
        due = args.t0 + i / args.rate
        now = time.time()
        if now < due:
            time.sleep(due - now)
            now = time.time()
        late_max = max(late_max, now - due)
        # everything due by now goes out in one call
        j = i + 1
        while (j < len(recs) and j - i < PRODUCE_BATCH
               and args.t0 + j / args.rate <= now):
            j += 1
        t = time.perf_counter()
        broker.produce_many(args.topic, recs[i:j])
        produce_s += time.perf_counter() - t
        calls += 1
        i = j
    with open(args.out, "w") as fh:
        json.dump({"records": len(recs), "late_s_max": late_max,
                   "produce_s": produce_s, "produce_calls": calls}, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
