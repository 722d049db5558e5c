"""Seeded input generators for the graft benchmark.

Everything here is plain Python: no generator imports or runs program code.
The same seed always gives the same files. Each generator also writes the
facts the correctness checks need (counts, order-independent digests,
planted document kinds) into ``expect.json`` beside its inputs.
"""
import hashlib
import json
import os
import random
import re
import struct
import zlib

T_I64 = 10
T_BINARY = 11

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
             "for", "on", "with", "as", "was", "at", "by", "be", "this", "are",
             "from", "but"]

# drain_text: the pipeline keeps lines matching FILTER_RE and
# rewrites MODIFY_RE with MODIFY_REPL_JAVA (Java `$1` group syntax); the
# checks apply the same pair with Python `re` (MODIFY_REPL_PY).
FILTER_RE = r"level=(INFO|WARN|ERROR)"
MODIFY_RE = r"uid=([0-9]+)"
MODIFY_REPL_JAVA = "uid=#$1"
MODIFY_REPL_PY = r"uid=#\1"

MB = 1 << 20
# The rotation size of the repo's log writers (graft.sources.ThriftLogWriter
# and tools/thrift_log_writer.py default to 64 MB). Backlogs are rotated
# files of this size, and the tail_thrift producer rotates at it.
ROTATE_BYTES = 64 * MB
# Two rotated files: the tail source plans one task per file, so the drain
# runs two decode tasks on local[4]. A 128 MB text drain took 1.8-3.4 s on a
# 4-vCPU VM, which leaves 7-9 drains in a 20 s run.
BACKLOG_FILES = 2


def record_hash(value):
    """64-bit hash of one delivered record; digests sum these mod 2**64, so
    they do not depend on delivery order."""
    return int.from_bytes(hashlib.blake2b(value, digest_size=8).digest(), "big")


def digest(values):
    return sum(record_hash(v) for v in values) & 0xFFFFFFFFFFFFFFFF


def encode_frame(key, message, timestamp_nanos):
    """One framed-thrift LogMessage (key, message, timestampInNanos, CRC32
    checksum), following the public Thrift binary protocol."""
    body = bytearray()
    body += struct.pack(">bhi", T_BINARY, 1, len(key)) + key
    body += struct.pack(">bhi", T_BINARY, 2, len(message)) + message
    body += struct.pack(">bhq", T_I64, 3, timestamp_nanos)
    body += struct.pack(">bhq", T_I64, 4, zlib.crc32(message))
    body.append(0)
    return struct.pack(">i", len(body)) + bytes(body)


def write_synced(path, data):
    """Write and fsync, so the file is on disk before the timed phase and no
    writeback of inputs runs during it."""
    with open(path, "wb") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())


def vocabulary(rng, n=4000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def filler(rng, words, nbytes):
    """About `nbytes` of space-separated words (vocabulary words average
    six letters)."""
    return " ".join(rng.choices(words, k=max(1, nbytes // 7)))


# ------------------------------------------------------------ ingestion data

def thrift_payload(rng, words, seq, lo=150, hi=350):
    """A thrift message body with no newline byte: the rolled objects
    separate records with a bare newline."""
    head = "seq=%d " % seq
    return (head + filler(rng, words, rng.randint(lo, hi) - len(head))).encode()


def text_line(rng, words, seq):
    level = rng.choices(["DEBUG", "INFO", "WARN", "ERROR"], [25, 50, 15, 10])[0]
    uid = "uid=%d " % rng.randint(1, 10 ** 6) if rng.random() < 0.5 else ""
    return "%d level=%s %smsg=%s" % (seq, level, uid,
                                     filler(rng, words, rng.randint(80, 300)))


_FILTER = re.compile(FILTER_RE)
_MODIFY = re.compile(MODIFY_RE)


def expected_text_value(line):
    """The generator's own application of the text pipeline's filter and
    replacement, with Python `re`; None when the filter drops the line."""
    if not _FILTER.search(line):
        return None
    return _MODIFY.sub(MODIFY_REPL_PY, line)


def write_text_backlog(rng, words, d, files, file_bytes, seq0=0):
    """Rotated text files app.log.1..N; returns the expected delivery."""
    os.makedirs(d, exist_ok=True)
    seq, n_out, dig, in_bytes = seq0, 0, 0, 0
    for f in range(1, files + 1):
        lines = []
        size = 0
        while True:
            line = text_line(rng, words, seq)
            if size + len(line) + 1 > file_bytes:
                break
            seq += 1
            lines.append(line)
            size += len(line) + 1
            v = expected_text_value(line)
            if v is not None:
                n_out += 1
                dig = (dig + record_hash(v.encode())) & 0xFFFFFFFFFFFFFFFF
        data = ("\n".join(lines) + "\n").encode()
        in_bytes += len(data)
        write_synced(os.path.join(d, "app.log.%d" % f), data)
    return {"records": n_out, "digest": dig, "bytes": in_bytes, "lines": seq - seq0}


def write_thrift_backlog(rng, words, d, files, file_bytes, seq0=0):
    os.makedirs(d, exist_ok=True)
    seq, dig, in_bytes = seq0, 0, 0
    for f in range(1, files + 1):
        frames = []
        size = 0
        while True:
            msg = thrift_payload(rng, words, seq)
            frame = encode_frame(b"k%d" % (seq % 97), msg, 1_000_000_000 * seq)
            if size + len(frame) > file_bytes:
                break
            seq += 1
            frames.append(frame)
            size += len(frame)
            dig = (dig + record_hash(msg)) & 0xFFFFFFFFFFFFFFFF
        data = b"".join(frames)
        in_bytes += len(data)
        write_synced(os.path.join(d, "app.log.%d" % f), data)
    return {"records": seq - seq0, "digest": dig, "bytes": in_bytes}


def gen_tail(root, seed):
    """tail_thrift: three small warm-up directories; the live directory is
    filled during the run by tail_producer.py."""
    rng = random.Random(seed)
    words = vocabulary(rng)
    warm = [write_thrift_backlog(rng, words, os.path.join(root, "warm%d" % i), 1, 256 << 10)
            for i in range(3)]
    return {"warm": warm}


def gen_drain_text(root, seed):
    """drain_text: a backlog of BACKLOG_FILES rotated text files of up to
    ROTATE_BYTES each. Set-up drains the same backlog."""
    rng = random.Random(seed)
    words = vocabulary(rng)
    expect = write_text_backlog(rng, words, os.path.join(root, "backlog"), BACKLOG_FILES,
                                ROTATE_BYTES)
    return expect


def gen_drain_thrift(root, seed):
    """drain_thrift: the thrift twin of gen_drain_text."""
    rng = random.Random(seed)
    words = vocabulary(rng)
    expect = write_thrift_backlog(rng, words, os.path.join(root, "backlog"), BACKLOG_FILES,
                                  ROTATE_BYTES)
    expect["lines"] = expect["records"]
    return expect


# --------------------------------------------------------------- corpus data

def natural_doc(rng, words, n_tokens):
    toks = []
    for _ in range(n_tokens):
        toks.append(rng.choice(STOPWORDS) if rng.random() < 0.2 else rng.choice(words))
    return toks


def low_quality_doc(rng, words, n_tokens):
    junk = ["!!", "??", "#$%", "...", "&*", ";;", "--!"]
    return [rng.choice(junk) if i % 2 else rng.choice(words) for i in range(n_tokens)]


def gen_curate(root, seed, n_batches=4, batch_docs=200, warm_docs=100):
    """curate_stream: an id-ordered corpus with planted exact duplicates,
    near duplicates, low-quality and contaminated documents, split into
    `n_batches` JSON-lines files (ascending mtimes, so the file source takes
    them in id order), the decontamination probes, and a small warm-up
    corpus of the same make-up."""
    rng = random.Random(seed)
    words = vocabulary(rng)
    probes = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(20)]

    def corpus(n, id0):
        docs, kinds, originals = [], {}, []
        for i in range(n):
            doc_id = id0 + i
            r = rng.random()
            if originals and r < 0.06:
                src = rng.choice(originals)
                text, kind = src[1], "exact"
                kinds[doc_id] = {"kind": kind, "src": src[0]}
            elif originals and r < 0.12:
                src = rng.choice(originals)
                toks = src[1].split(" ")
                for j in rng.sample(range(len(toks)), max(1, len(toks) // 25)):
                    toks[j] = rng.choice(words)
                text = " ".join(toks)
                kinds[doc_id] = {"kind": "near", "src": src[0]}
            elif r < 0.16:
                text = " ".join(low_quality_doc(rng, words, rng.randint(60, 120)))
                kinds[doc_id] = {"kind": "low_quality"}
            elif r < 0.20:
                toks = natural_doc(rng, words, rng.randint(60, 120))
                p = rng.choice(probes).split(" ")
                at = rng.randint(0, len(p) - 10)
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = p[at:at + 10]
                text = " ".join(toks)
                kinds[doc_id] = {"kind": "contaminated"}
            else:
                text = " ".join(natural_doc(rng, words, rng.randint(60, 120)))
                originals.append((doc_id, text))
                kinds[doc_id] = {"kind": "original"}
            docs.append({"doc_id": doc_id, "text": text})
        return docs, kinds

    docs, kinds = corpus(n_batches * batch_docs, 1)
    warm, _ = corpus(warm_docs, 1)
    d = os.path.join(root, "docs")
    os.makedirs(d, exist_ok=True)
    base_mtime = 1_600_000_000
    for b in range(n_batches):
        p = os.path.join(d, "batch_%04d.json" % b)
        with open(p, "w") as fh:
            for doc in docs[b * batch_docs:(b + 1) * batch_docs]:
                fh.write(json.dumps(doc) + "\n")
        os.utime(p, (base_mtime + 10 * b, base_mtime + 10 * b))
    wd = os.path.join(root, "warm_docs")
    os.makedirs(wd, exist_ok=True)
    with open(os.path.join(wd, "batch_0000.json"), "w") as fh:
        for doc in warm:
            fh.write(json.dumps(doc) + "\n")
    with open(os.path.join(root, "probes.json"), "w") as fh:
        for i, t in enumerate(probes):
            fh.write(json.dumps({"probe_id": i, "text": t}) + "\n")
    with open(os.path.join(root, "kinds.json"), "w") as fh:
        json.dump({str(k): v for k, v in kinds.items()}, fh)
    return {"docs": len(docs), "batches": n_batches, "batch_docs": batch_docs,
            "text_bytes": sum(len(x["text"].encode()) for x in docs)}


# ----------------------------------------------------------------- BM25 data

def gen_search(root, seed, base_docs=3000, appends=60, append_docs=40, queries=400):
    """search_bm25: a base corpus (built into the store at set-up as epoch
    0), a supply of append batches, and a query pool.
    Words follow a Zipf-like law so document frequencies vary."""
    rng = random.Random(seed)
    words = vocabulary(rng, 3000)
    weights = [1.0 / (r + 1) for r in range(len(words))]

    def doc(n):
        return " ".join(rng.choices(words, weights, k=n))

    next_id = 1

    def batch(n):
        nonlocal next_id
        out = []
        for _ in range(n):
            out.append({"doc_id": next_id, "text": doc(rng.randint(20, 80))})
            next_id += 1
        return out

    def dump(path, rows):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    dump(os.path.join(root, "base.json"), batch(base_docs))
    os.makedirs(os.path.join(root, "appends"), exist_ok=True)
    for a in range(appends):
        dump(os.path.join(root, "appends", "append_%04d.json" % a), batch(append_docs))
    # queries mix frequent and rare words: two from the head, the rest anywhere
    qs = []
    for q in range(queries):
        toks = rng.choices(words[:200], k=2) + rng.choices(words, k=rng.randint(1, 4))
        qs.append({"query_id": q, "text": " ".join(toks)})
    dump(os.path.join(root, "queries.json"), qs)
    return {"base_docs": base_docs, "appends": appends, "append_docs": append_docs, "queries": queries}


GENERATORS = {"tail_thrift": gen_tail, "drain_text": gen_drain_text,
              "drain_thrift": gen_drain_thrift,
              "curate_stream": gen_curate, "search_bm25": gen_search}


def generate(workload, root, seed):
    os.makedirs(root, exist_ok=True)
    expect = GENERATORS[workload](root, seed)
    with open(os.path.join(root, "expect.json"), "w") as fh:
        json.dump(expect, fh)
    return expect
