"""Correctness checks for each workload, run after the timed phase.

Each check compares the program's outputs with a computation made apart
from the program (Python, Python `re`, DuckDB) or with a property the
method must have. A check returns (failures, derived): the list of failed
conditions (empty when correct) and figures derived from the outputs, such
as the tail latencies that need the delivered records.
"""
import glob
import json
import math
import os
import re
import statistics

import duckdb

import gen

DUE_RE = re.compile(rb"seq=(\d+) due=(\d+) ")


def pct(xs, p):
    """Nearest-rank percentile, p in (0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, math.ceil(p * len(s)) - 1))]


def median(xs):
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def lower_quartile(xs):
    """The first quartile (inclusive method): the drain time the run reaches
    in its faster quarter, which a host slowdown in part of the run or the
    last JIT warm-up of its first drains does not move."""
    return statistics.quantiles(xs, n=4, method="inclusive")[0] if len(xs) > 1 else xs[0]


def read_objects(objects_dir):
    """(batch id, record) for every record of every rolled object; objects
    are named <batch>-<partition>-<seq> and separate records with '\\n'."""
    out = []
    for p in glob.glob(os.path.join(objects_dir, "*", "*")):
        batch = int(os.path.basename(p).split("-")[0])
        with open(p, "rb") as fh:
            data = fh.read()
        if data:
            out.extend((batch, r) for r in data[:-1].split(b"\n"))
    return out


def object_bytes(objects_dir):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(objects_dir, "*", "*")))


def audit_total(audit_dir):
    """Σ num_messages over distinct batch ids of the audit side channel."""
    files = glob.glob(os.path.join(audit_dir, "pipeline=*", "batch_id=*", "*.parquet"))
    if not files:
        return 0
    return duckdb.sql(
        "SELECT coalesce(sum(n), 0) FROM (SELECT batch_id, max(num_messages) AS n "
        "FROM read_parquet(%s, hive_partitioning = true) GROUP BY batch_id)" % json.dumps(files)
        .replace('"', "'")).fetchone()[0]


def delivery(failures, label, records, want_records, want_digest, audit_dir):
    """Every generated record delivered exactly once: count and
    order-independent digest; audit Σ equals the records in the objects."""
    values = [r for _, r in records]
    if len(values) != want_records:
        failures.append("%s: %d records delivered, %d generated" % (label, len(values), want_records))
    if gen.digest(values) != want_digest:
        failures.append("%s: delivered digest differs from the generator's" % label)
    total = audit_total(audit_dir)
    if total != len(values):
        failures.append("%s: audit counts %d messages, objects hold %d" % (label, total, len(values)))


# ---------------------------------------------------------------- tail_thrift

def check_tail(in_dir, out_dir, expect, result):
    failures = []
    with open(os.path.join(out_dir, "producer.json")) as fh:
        prod = json.load(fh)
    live = os.path.join(out_dir, "live")
    records = read_objects(os.path.join(live, "objects"))
    delivery(failures, "tail", records, prod["records"], prod["digest"], os.path.join(live, "audit"))
    commits = {}
    for p in glob.glob(os.path.join(live, "checkpoint", "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            commits[int(name)] = os.stat(p).st_mtime_ns
    lat, seqs, first_due = [], set(), None
    last_commit = max(commits.values()) if commits else 0
    for batch, r in records:
        m = DUE_RE.match(r)
        if not m or batch not in commits:
            failures.append("tail: record without a sequence stamp or a committed batch")
            break
        seq, due = int(m.group(1)), int(m.group(2))
        seqs.add(seq)
        first_due = due if first_due is None else min(first_due, due)
        lat.append((commits[batch] - due) / 1e6)
    if len(seqs) != len(records):
        failures.append("tail: a sequence number was delivered twice")
    span_s = (last_commit - first_due) / 1e9 if first_due else 0.0
    derived = {
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 0.9),
        "mb_per_s": prod["bytes"] / gen.MB / span_s if span_s > 0 else 0.0,
        "attempted": prod["records"],
        "batches": len({b for b, _ in records}),
        "producer_late_p99_ms": prod["late_p99_ms"],
        "layers": {"streaming.sink_bytes": object_bytes(os.path.join(live, "objects"))
                   / prod["bytes"]},
    }
    return failures, derived


# ------------------------------------------------------ drain_text / drain_thrift

def check_drain(in_dir, out_dir, expect, result):
    failures = []
    drains = result["drain_s"]
    last = len(drains) - 1
    tag = os.path.join(out_dir, "round%d" % last, "r4")
    records = read_objects(os.path.join(tag, "objects"))
    delivery(failures, "drain", records, expect["records"], expect["digest"],
             os.path.join(tag, "audit"))
    sink_bytes = object_bytes(os.path.join(tag, "objects"))
    # earlier rounds were deleted during the run; their object bytes were
    # listed by the benchmark just before
    for r, b in enumerate(result["object_bytes"]):
        if b != sink_bytes:
            failures.append("drain: round %d delivered %d object bytes, round %d %d"
                            % (r, b, last, sink_bytes))
    derived = {
        "mb_per_ref_job": expect["bytes"] / gen.MB * sum(result["reference_s"]) / sum(drains),
        "mb_per_s": expect["bytes"] / gen.MB / lower_quartile(drains),
        "attempted": expect["lines"] * len(drains),
        "layers": {"streaming.sink_bytes": sink_bytes / expect["bytes"]},
    }
    return failures, derived


# -------------------------------------------------------------- curate_stream

def shingles(text, n=3):
    toks = text.lower().split()
    return {tuple(toks[i:i + n]) for i in range(max(1, len(toks) - n + 1))}


def check_curate(in_dir, out_dir, expect, result, threshold=0.3, n_shards=16, max_bucket=4096):
    failures = []
    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT * FROM read_json(?, format = 'newline_delimited', "
                "columns = {'doc_id': 'BIGINT', 'text': 'VARCHAR'})",
                [os.path.join(in_dir, "docs", "*.json")])
    last = result["rounds"] - 1

    def verdicts(r):
        return "read_parquet('%s')" % os.path.join(out_dir, "round%d" % r, "state", "verdicts",
                                                    "*", "*.parquet")
    con.execute("CREATE TABLE v AS SELECT doc_id, stage, shard FROM %s" % verdicts(last))
    n_docs, n_v, n_ids, missing = con.execute(
        "SELECT (SELECT count(*) FROM docs), count(*), count(DISTINCT doc_id), "
        "(SELECT count(*) FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM v)) FROM v").fetchone()
    if not (n_v == n_ids == n_docs and missing == 0):
        failures.append("curate: %d verdicts for %d distinct ids of %d documents" % (n_v, n_ids, n_docs))
    bad_shard = con.execute(
        "SELECT count(*) FROM v WHERE stage = 'kept' AND shard IS DISTINCT FROM "
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT %% %d)" % n_shards).fetchone()[0]
    if bad_shard:
        failures.append("curate: %d kept shards differ from the md5 formula" % bad_shard)
    diff = con.execute(
        "WITH passed AS (SELECT d.doc_id, d.text FROM docs d JOIN v USING (doc_id) "
        "  WHERE v.stage <> 'quality'), "
        "grp AS (SELECT doc_id, doc_id > min(doc_id) OVER (PARTITION BY text) AS dup FROM passed), "
        "want AS (SELECT doc_id FROM grp WHERE dup), "
        "got AS (SELECT doc_id FROM v WHERE stage = 'exact_dup') "
        "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got)), "
        "       (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want))").fetchone()
    if diff != (0, 0):
        failures.append("curate: exact_dup differs from equal-text grouping (%d missing, %d extra)" % diff)
    for r in range(last):
        d = con.execute("SELECT count(*) FROM (SELECT * FROM %s EXCEPT SELECT * FROM v)"
                        % verdicts(r)).fetchone()[0]
        if d:
            failures.append("curate: round %d verdicts differ from round %d" % (r, last))
    fold = "read_parquet('%s')" % os.path.join(out_dir, "fold", "*.parquet")
    d = con.execute("SELECT (SELECT count(*) FROM (SELECT doc_id, stage, shard FROM %s EXCEPT "
                    "SELECT * FROM v)), (SELECT count(*) FROM (SELECT * FROM v EXCEPT "
                    "SELECT doc_id, stage, shard FROM %s))" % (fold, fold)).fetchone()
    if d != (0, 0):
        failures.append("curate: streaming verdicts differ from the one-batch fold %s" % (d,))
    biggest = con.execute(
        "SELECT coalesce(max(c), 0) FROM (SELECT count(*) AS c FROM read_parquet('%s') "
        "GROUP BY band, key)" % os.path.join(out_dir, "round%d" % last, "state", "sigs", "*",
                                             "*.parquet")).fetchone()[0]
    if biggest > max_bucket:
        failures.append("curate: an LSH bucket holds %d > %d rows, the guard bound" % (biggest, max_bucket))

    # near duplicates: a lower-id quality+exact survivor at Jaccard >= threshold
    stage = dict(con.execute("SELECT doc_id, stage FROM v").fetchall())
    text = dict(con.execute("SELECT doc_id, text FROM docs").fetchall())
    sh = {i: shingles(t) for i, t in text.items()}
    index = {}
    for i in sorted(text):
        if stage.get(i) == "near_dup":
            counts = {}
            for s in sh[i]:
                for j in index.get(s, ()):
                    counts[j] = counts.get(j, 0) + 1
            best = max((c / (len(sh[i]) + len(sh[j]) - c) for j, c in counts.items()), default=0.0)
            if best < threshold:
                failures.append("curate: near_dup %d has no lower-id survivor at Jaccard >= %s"
                                % (i, threshold))
        if stage.get(i) not in ("quality", "exact_dup"):
            for s in sh[i]:
                index.setdefault(s, []).append(i)
    with open(os.path.join(in_dir, "kinds.json")) as fh:
        kinds = json.load(fh)
    for k, info in kinds.items():
        i, kind, got = int(k), info["kind"], stage.get(int(k))
        if kind == "low_quality" and got != "quality":
            failures.append("curate: planted low-quality doc %d judged %s" % (i, got))
        elif kind == "contaminated" and got not in ("quality", "exact_dup", "near_dup", "contaminated"):
            failures.append("curate: planted contaminated doc %d judged %s" % (i, got))
        elif kind == "near":
            src = info["src"]
            a, b = sh[i], sh[src]
            jac = len(a & b) / len(a | b)
            want = "exact_dup" if text[i] == text[src] else "near_dup"
            if jac >= 2 * threshold and got != want:
                failures.append("curate: planted near duplicate %d (Jaccard %.2f) judged %s"
                                % (i, jac, got))
        elif kind in ("original", "exact") and got == "quality":
            failures.append("curate: natural doc %d dropped at quality" % i)
        if len(failures) > 20:
            break
    lat = result["latencies_ms"]
    derived = {
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 0.9),
        "ops_per_s": result["ops_per_s"],
        "attempted": result["docs"],
        "layers": {},
    }
    return failures, derived


# ---------------------------------------------------------------- search_bm25

BM25_SQL = r"""
WITH dt AS (SELECT doc_id,
      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tk
    FROM docs WHERE ord <= $state),
  st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl FROM dt),
  qt AS (SELECT DISTINCT query_id,
      unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS term
    FROM queries WHERE query_id IN (SELECT unnest($qids::BIGINT[]))),
  tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term FROM dt),
  tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
    WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
  dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
  sc AS (SELECT q.query_id, t.doc_id,
      round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
        * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))), 4) AS score
    FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term) CROSS JOIN st GROUP BY 1, 2),
  r AS (SELECT query_id, doc_id, score, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 10
"""


def check_search(in_dir, out_dir, expect, result):
    failures = []
    con = duckdb.connect()
    cols = "columns = {'doc_id': 'BIGINT', 'text': 'VARCHAR'}, format = 'newline_delimited'"
    # a document is in the store at state s (appends done) when its ord <= s
    con.execute("CREATE TABLE docs AS SELECT doc_id, text, 0 AS ord FROM read_json(?, %s)" % cols,
                [os.path.join(in_dir, "base.json")])
    for a in range(result["appends"]):
        con.execute("INSERT INTO docs SELECT doc_id, text, %d FROM read_json(?, %s)" % (a + 1, cols),
                    [os.path.join(in_dir, "appends", "append_%04d.json" % a)])
    con.execute("CREATE TABLE queries AS SELECT * FROM read_json(?, format = 'newline_delimited', "
                "columns = {'query_id': 'BIGINT', 'text': 'VARCHAR'})",
                [os.path.join(in_dir, "queries.json")])
    with open(os.path.join(out_dir, "search_ops.json")) as fh:
        log = json.load(fh)
    got = {}
    for op, q, rank, doc, score in log["hits"]:
        got.setdefault(op, set()).add((q, rank, doc, round(score, 4)))
    by_state = {}
    for o in log["ops"]:
        by_state.setdefault(o["appends"], []).append(o)
    for state, ops in sorted(by_state.items()):
        qids = sorted({q for o in ops for q in o["queries"]})
        rows = con.execute(BM25_SQL, {"state": state, "qids": qids}).fetchall()
        want = {}
        for q, rank, doc, score in rows:
            want.setdefault(q, set()).add((q, rank, doc, round(score, 4)))
        for o in ops:
            w = set().union(*(want.get(q, set()) for q in o["queries"]))
            if got.get(o["op"], set()) != w:
                failures.append("search: op %d top-k differs from the DuckDB BM25" % o["op"])
    lat = result["latencies_ms"]
    derived = {
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 0.9),
        "ops_per_s": result["ops_per_s"],
        "attempted": result["ops"],
        "layers": {},
    }
    return failures, derived


CHECKS = {"tail_thrift": check_tail, "drain_text": check_drain, "drain_thrift": check_drain,
          "curate_stream": check_curate, "search_bm25": check_search}
