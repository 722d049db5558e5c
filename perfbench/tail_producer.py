"""Open-loop thrift log producer for the tail_thrift workload.

One single-threaded process appends framed-thrift LogMessages to
``<dir>/app.log`` at a fixed rate for a fixed time, rotating the file to
``app.log.<n>`` at the log writers' 64 MB (``gen.ROTATE_BYTES``). Each
record's due time (start + seq / rate, wall-clock nanoseconds) is stamped
into its payload and into ``timestampInNanos``; the record is written when due, or as soon
as possible after. On exit it writes a JSON summary: records, bytes, the
order-independent digest of the payloads, and how late it ran.

    python3 tail_producer.py --dir D --rate R --seconds S --seed N --out F
"""
import argparse
import json
import os
import random
import time

import gen


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=float, required=True, help="records per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    rng = random.Random(a.seed)
    words = gen.vocabulary(rng)
    # payload tails are drawn up front so the timed loop only formats
    tails = [gen.filler(rng, words, rng.randint(120, 320)).encode() for _ in range(512)]
    os.makedirs(a.dir, exist_ok=True)
    path = os.path.join(a.dir, "app.log")
    out = open(path, "ab")
    size, rotations = 0, 0
    period = 1e9 / a.rate
    start = time.time_ns() + 20_000_000
    end = start + int(a.seconds * 1e9)
    seq, dig, nbytes = 0, 0, 0
    late = []
    while True:
        due = start + int(seq * period)
        if due >= end:
            break
        now = time.time_ns()
        if now < due:
            time.sleep((due - now) / 1e9)
            continue
        msg = b"seq=%d due=%d " % (seq, due) + tails[seq % len(tails)]
        frame = gen.encode_frame(b"k%d" % (seq % 97), msg, due)
        if size > 0 and size + len(frame) > gen.ROTATE_BYTES:
            out.close()
            rotations += 1
            os.rename(path, "%s.%d" % (path, rotations))
            out = open(path, "ab")
            size = 0
        out.write(frame)
        out.flush()
        size += len(frame)
        nbytes += len(frame)
        dig = (dig + gen.record_hash(msg)) & 0xFFFFFFFFFFFFFFFF
        late.append(now - due)
        seq += 1
    out.close()
    late.sort()
    n = len(late)
    summary = {
        "records": seq, "bytes": nbytes, "digest": dig, "rotations": rotations,
        "start_ns": start, "end_ns": end,
        "late_p50_ms": late[n // 2] / 1e6 if n else 0.0,
        "late_p99_ms": late[min(n - 1, (99 * n) // 100)] / 1e6 if n else 0.0,
        "late_max_ms": late[-1] / 1e6 if n else 0.0,
    }
    with open(a.out, "w") as fh:
        json.dump(summary, fh)


if __name__ == "__main__":
    main()
