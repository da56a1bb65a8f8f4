#!/usr/bin/env python3
"""Row digests over DuckDB results, and the pinned expected outputs.

The digest is order-insensitive: every row is encoded engine-independently
(columns sorted by name, integral values as decimal integers, other doubles
as their IEEE bits, timestamps as UTC microseconds), hashed with SHA-256,
and the first 8 bytes of the row hashes are summed mod 2**64. Digest.scala
computes the same digest over a Spark DataFrame.

Run as a script to derive expected.json from the oracle SQL of every
entry the workloads run, executed by DuckDB over the test data. For
corpus_ingest it runs pp4's one-shot oracle SQL with its two-batch split
replaced by each of the SPLITS seeded splits:

    java -cp "perfbench/.build/classes:$SPARK_JARS/*" \
        graft.perfbench.OracleSql > oracle.json
    python3 perfbench/expected.py oracle.json TESTDATA_DIR

where TESTDATA_DIR holds the sf0.1 and sf0.001 directories.
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# Scales the expectations are pinned for: (name, sf dir, replicas).
SCALES = (("sf0.1", "sf0.1", 1), ("sf0.1x8", "sf0.1", 8),
          ("sf0.001", "sf0.001", 1), ("sf0.001x8", "sf0.001", 8))
CORPUS_ENTRY = "pp4_incremental_corpus"
INGEST_BATCHES = 2
SPLITS = 16
EPOCH = datetime.datetime(1970, 1, 1)
MAX_EXACT = 2.0 ** 53


def split_sql(seed):
    """The seed's assignment of documents to ingest batches, as SQL that
    Spark and DuckDB evaluate identically. The seed picks one of SPLITS
    splits, so every split has a pinned expected output."""
    return ("((((doc_id * 1103515245) + (%d * 12345)) %% 2147483648) >> 16) %% %d"
            % (seed % SPLITS, INGEST_BATCHES))


def corpus_key(seed):
    return "corpus_ingest/split%d" % (seed % SPLITS)


def _double(v):
    if math.isnan(v):
        return "nan"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if v == math.floor(v) and abs(v) < MAX_EXACT:
        return str(int(v))
    return "d:%x" % struct.unpack(">Q", struct.pack(">d", v))[0]


def _decimal(v):
    if v == v.to_integral_value():
        return str(int(v))
    return format(v.normalize(), "f")


def encode(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _double(v)
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D:%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "b:" + v.hex()
    if isinstance(v, dict):
        return "{" + "\x1e".join(encode(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "\x1e".join(encode(x) for x in v) + "]"
    raise TypeError("no digest encoding for %r" % type(v))


def digest(cursor):
    """(rows, digest) of an executed DuckDB cursor."""
    names = [d[0] for d in cursor.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows, total = 0, 0
    while True:
        batch = cursor.fetchmany(10000)
        if not batch:
            break
        for r in batch:
            s = "\x1f".join(encode(r[i]) for i in order)
            total += struct.unpack(">Q", hashlib.sha256(s.encode()).digest()[:8])[0]
            rows += 1
    return rows, "%016x" % (total % 2 ** 64)


def connect(sf_dir, replicas=1):
    """DuckDB with one view per table; `replicas` > 1 mirrors olap_8x's
    input (lineitem and orders copied with keys shifted by 10^7 each)."""
    import duckdb
    con = duckdb.connect()
    shifted = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
    for t in TABLES:
        path = Path(sf_dir) / (t + ".parquet")
        if not path.exists():
            continue
        src = "read_parquet('%s')" % path
        if replicas > 1 and t in shifted:
            k = shifted[t]
            body = " UNION ALL ".join(
                "SELECT * REPLACE (%s + %d AS %s) FROM %s" % (k, i * 10000000, k, src)
                for i in range(replicas))
        else:
            body = "SELECT * FROM " + src
        con.execute("CREATE VIEW %s AS %s" % (t, body))
    return con


def main(argv):
    oracle = json.loads(Path(argv[1]).read_text())
    testdata = Path(argv[2])
    olap = set(oracle["olap"])
    out = {}
    for scale, sf, reps in SCALES:
        con = connect(testdata / sf, reps)
        names = olap if reps > 1 else set(oracle["sql"]) - {CORPUS_ENTRY}
        out[scale] = {}
        queries = {name: oracle["sql"][name] for name in names}
        if reps == 1:
            two_batch = "doc_id % 2 AS b"
            pp4 = oracle["sql"][CORPUS_ENTRY]
            assert two_batch in pp4, "pp4 oracle SQL no longer splits on doc_id % 2"
            for k in range(SPLITS):
                queries[corpus_key(k)] = pp4.replace(two_batch, "(%s) AS b" % split_sql(k))
        for name, sql in queries.items():
            rows, dig = digest(con.execute(sql))
            out[scale][name] = {"rows": rows, "digest": dig}
            print(scale, name, rows, dig, file=sys.stderr)
    EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main(sys.argv)
