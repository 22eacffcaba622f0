#!/usr/bin/env python3
"""Seeded, single-threaded workload generator for the benchmark.

The same seed gives the same inputs (keys, operations, transaction shapes,
commit timestamps, documents).

  gen.py backfill --seed N --out DIR --seconds S
                                          stage a WAL backlog of about 4,000 x S lines
  gen.py neardup  --seed N --out DIR      ordered document batches (parquet)

Every WAL segment is written as a dot-file and renamed into place, because
the WAL directory source skips names starting with '.'. The expected event
set (table, key, op, xid, seq_in_tx) goes to a JSON log for the checker.
"""
import argparse
import json
import os
import random
from datetime import datetime, timezone

TABLES = ("customers", "orders", "items")
BACKFILL_LINES_PER_S = 4_000   # backlog = this x --seconds, in whole batches
BACKFILL_SEGMENT_LINES = 2_000
BACKFILL_MAX_FILES = 6          # maxFilesPerTrigger of the drain
BACKFILL_EVENT_SPAN_S = 60.0    # commit times span less than the dedup window
ND_BATCHES = 30
ND_BATCH_DOCS = 400
ND_SETUP_DOCS = 100
ND_DUP_SHARE = 0.3


def ts(epoch_s):
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f") + "+00"


def word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


class Wal:
    """Keyed table state and wal2json v2 line rendering."""

    def __init__(self, rng):
        self.rng = rng
        self.next_key = {t: 1 for t in TABLES}
        self.live = {t: [] for t in TABLES}
        self.xid = 1000

    def row(self, key):
        return ('[{"name":"id","type":"bigint","value":%d},'
                '{"name":"v","type":"text","value":"%s"},'
                '{"name":"n","type":"integer","value":%d}]'
                % (key, word(self.rng), self.rng.randint(0, 10**6)))

    def tx(self, size, stamp):
        """Lines of one transaction and its expected events."""
        self.xid += 1
        x, rng = self.xid, self.rng
        lines = ['{"action":"B","xid":%d}' % x]
        events = []
        for seq in range(size):
            t = rng.choice(TABLES)
            r = rng.random()
            live = self.live[t]
            if not live or r < 0.6:
                op, key = "INSERT", self.next_key[t]
                self.next_key[t] += 1
                live.append(key)
                lines.append('{"action":"I","xid":%d,"timestamp":"%s","schema":"public",'
                             '"table":"%s","columns":%s}' % (x, stamp, t, self.row(key)))
            elif r < 0.9:
                op, key = "UPDATE", rng.choice(live)
                lines.append('{"action":"U","xid":%d,"timestamp":"%s","schema":"public",'
                             '"table":"%s","columns":%s,"identity":[{"name":"id","type":"bigint","value":%d}]}'
                             % (x, stamp, t, self.row(key), key))
            else:
                i = rng.randrange(len(live))
                live[i], live[-1] = live[-1], live[i]
                op, key = "DELETE", live.pop()
                lines.append('{"action":"D","xid":%d,"timestamp":"%s","schema":"public",'
                             '"table":"%s","identity":[{"name":"id","type":"bigint","value":%d}]}'
                             % (x, stamp, t, key))
            events.append([t, key, op, x, seq])
        lines.append('{"action":"C","xid":%d,"timestamp":"%s"}' % (x, stamp))
        return lines, events


def write_atomic(directory, name, text):
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(directory, name))


def seg_name(i):
    return "seg-%08d.json" % i


def backfill(args):
    """Pre-staged backlog: I/U/D with identity, transaction sizes from 1 to
    thousands (large ones cross segment boundaries), and a segment range the
    harness redelivers at its original positions."""
    rng = random.Random(args.seed)
    wal = Wal(rng)
    wal_dir = os.path.join(args.out, "wal")
    os.makedirs(wal_dir, exist_ok=True)
    # whole batches of full segments, so every drain batch admits the same
    # number of lines
    batch_lines = BACKFILL_SEGMENT_LINES * BACKFILL_MAX_FILES
    n_lines = batch_lines * max(1, round(BACKFILL_LINES_PER_S * args.seconds / batch_lines))
    txs, total = [], 0
    while n_lines - total >= 3:
        r = rng.random()
        size = (rng.randint(1, 5) if r < 0.7 else
                rng.randint(6, 100) if r < 0.95 else rng.randint(101, 3000))
        size = min(size, n_lines - total - 2)
        txs.append(size)
        total += size + 2
    step = BACKFILL_EVENT_SPAN_S / len(txs)
    base = 1.7e9 + (args.seed % 1000) * 86400
    lines, events, line_seg = [], [], []
    for i, size in enumerate(txs):
        tl, te = wal.tx(size, ts(base + i * step))
        # data line k of this tx sits at global line index len(lines)+1+k
        for k in range(len(te)):
            line_seg.append((len(lines) + 1 + k) // BACKFILL_SEGMENT_LINES)
        lines += tl
        events += te
    nseg = (len(lines) + BACKFILL_SEGMENT_LINES - 1) // BACKFILL_SEGMENT_LINES
    for s in range(nseg):
        chunk = lines[s * BACKFILL_SEGMENT_LINES:(s + 1) * BACKFILL_SEGMENT_LINES]
        write_atomic(wal_dir, seg_name(s), "\n".join(chunk) + "\n")
    replay_from = nseg // 2
    replay_to = replay_from + 3
    replayed = sum(1 for s in line_seg if replay_from <= s < replay_to)
    plan = {"segments": nseg, "max_files_per_trigger": BACKFILL_MAX_FILES,
            "replay_from": replay_from, "replay_to": replay_to,
            "prefix_segments": BACKFILL_MAX_FILES, "lines": len(lines),
            "replayed_events": replayed}
    with open(os.path.join(args.out, "backfill.json"), "w") as f:
        json.dump(plan, f)
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump({"events": events, "segment_of_event": line_seg, "plan": plan}, f)


def neardup(args):
    """Ordered document batches: ND_DUP_SHARE of the documents are one-word
    edits of an earlier root document (often in an earlier batch), the rest
    are fresh random word sequences."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(args.seed)
    vocab = sorted({word(rng) for _ in range(6000)})
    docs_dir = os.path.join(args.out, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    roots = []

    def doc():
        if roots and rng.random() < ND_DUP_SHARE:
            words = list(rng.choice(roots[-2000:]))
            words[rng.randrange(len(words))] = rng.choice(vocab)
            return words
        words = [rng.choice(vocab) for _ in range(rng.randint(60, 100))]
        roots.append(words)
        return words

    def write(name, first_id, n):
        ids = list(range(first_id, first_id + n))
        texts = [" ".join(doc()) for _ in ids]
        tmp = os.path.join(docs_dir, "." + name + ".tmp")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), tmp)
        os.rename(tmp, os.path.join(docs_dir, name))

    write("setup.parquet", 10**9, ND_SETUP_DOCS)
    roots.clear()
    for b in range(ND_BATCHES):
        write("b%04d.parquet" % b, 1 + b * ND_BATCH_DOCS, ND_BATCH_DOCS)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload", choices=["backfill", "neardup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    args = p.parse_args()
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "backfill":
        backfill(args)
    else:
        neardup(args)


if __name__ == "__main__":
    main()
