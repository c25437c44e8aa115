"""The ``lakehouse`` workload: a seeded, fixed-length op sequence of
``SnapshotTable`` commits and reads on a table created from ``orders``,
beside a MinHash daily-ingest loop (``Engine`` index verbs) over held-out
``documents``.

The sequence is a pure function of the seed and the table sizes
(``op_sequence``), so its length never depends on how fast the engine
is: a faster program replays the same episode, it does not build a
bigger table. A DuckDB model follows the same sequence and gives every
read's expected result before the timed episode starts.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

from perfbench.common import dir_bytes, result_hash, run_op

SF = 0.01  # 15k orders, 1581 documents
HOLDOUT_MOD = 5  # documents with doc_id % 5 == 0 are the daily batches
BATCH_DOCS = 100
APPEND_ROWS = 200
DELETE_KEYS = 60
MERGE_UPDATES = 150
MERGE_INSERTS = 50
REMOVE_DOCS = 30
KEEP_LAST = 4  # expire_snapshots retention; changelogs never reach further back
MIN_EPISODES = 1
KEY_OFFSET = 10_000_000
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
READS = {"read_full", "read_skip", "changelog", "index_lookup"}
# Kinds whose latency is reported under the snapshots / index layers.
LAYER = {
    "append": "snapshots", "delete_keys": "snapshots", "merge": "snapshots",
    "rewrite": "snapshots", "expire": "snapshots", "read_full": "snapshots",
    "read_skip": "snapshots", "changelog": "snapshots",
    "index_lookup": "index", "index_append": "index", "index_remove": "index",
    "index_compact": "index",
}


def op_sequence(seed: int, n_orders: int, n_docs: int) -> list[dict]:
    """The episode for ``seed``. A warm-up prefix (the repeated verbs
    once, flagged ``warm``: run untimed, but the model follows it), then the
    timed part: a round of table writes, each read back, one daily index
    batch and a retraction, a full read and a changelog over the
    uncompacted round, and the maintenance tail (compaction, expiry,
    index compaction) with the table read again and a second batch
    looked up against the compacted index."""
    rng = random.Random(seed)
    held = [d for d in range(n_docs) if d % HOLDOUT_MOD == 0]
    rng.shuffle(held)
    batches = [sorted(held[i * BATCH_DOCS:(i + 1) * BATCH_DOCS]) for i in range(3)]
    base_docs = [d for d in range(n_docs) if d % HOLDOUT_MOD != 0]
    width = n_orders // 10
    commits = iter(range(1, 1 << 30))

    def append():
        return {"kind": "append", "lo": rng.randrange(0, n_orders - APPEND_ROWS),
                "n": APPEND_ROWS, "offset": KEY_OFFSET * next(commits)}

    def delete():
        return {"kind": "delete_keys", "keys": sorted(rng.sample(range(n_orders), DELETE_KEYS))}

    def merge():
        # updates in the lowest quarter of the keys, below every pruned
        # read's range
        return {"kind": "merge", "ulo": rng.randrange(0, n_orders // 4 - MERGE_UPDATES),
                "un": MERGE_UPDATES, "ilo": rng.randrange(0, n_orders - MERGE_INSERTS),
                "in": MERGE_INSERTS, "offset": KEY_OFFSET * next(commits)}

    def skip():
        # upper half of the keys: every pruned read opens the same files
        # (never an appended one, nor the merge's updates), so its cost
        # follows the table state, not where the seed put the range
        lo = n_orders // 2 + rng.randrange(0, n_orders // 2 - width)
        return {"kind": "read_skip", "lo": lo, "hi": lo + width - 1}

    def remove():
        return {"kind": "index_remove", "docs": sorted(rng.sample(base_docs, REMOVE_DOCS))}

    def batch(b):  # a daily batch is looked up, then ingested
        return [{"kind": "index_lookup", "docs": b}, {"kind": "index_append", "docs": b}]

    # ends compacted, so the timed part starts from one file and no
    # pending deletes; the changelog verb runs once per episode and pays
    # its first-call cost the same way every run
    warm = [append(), delete(), merge(), {"kind": "read_full"}, skip(),
            *batch(batches[2]), remove(), {"kind": "index_compact"},
            {"kind": "rewrite"}, {"kind": "expire", "keep_last": KEEP_LAST}]
    for op in warm:
        op["warm"] = True
    # The timed part has a fixed shape; the seed picks the rows, keys,
    # key ranges and documents. Every commit is read back through a
    # pruned read (read-after-write), so reads of every uncompacted
    # table state count toward the read median. Two readers follow each
    # delete: the reads that pay for pending deletes then hold the
    # middle of the read latencies, so the median sits inside that group
    # instead of on its edge with the cheaper reads.
    return warm + [
        append(), skip(), *batch(batches[0]), delete(), skip(), skip(), merge(), skip(),
        append(), skip(), remove(), delete(), skip(), skip(),
        {"kind": "read_full"},
        {"kind": "changelog"},
        {"kind": "rewrite"},
        {"kind": "expire", "keep_last": KEEP_LAST},
        {"kind": "index_compact"},
        {"kind": "read_full"},
        skip(),
        {"kind": "index_lookup", "docs": batches[1]},
    ]


# --------------------------------------------------------------- the model
def _norm(v):
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float):
        return round(v, 6)
    return v


def _agg_sql(where: str = "") -> str:
    return (
        "SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS sk, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        f"FROM cur {where} GROUP BY o_orderstatus"
    )


def _minhash_oracle_sql() -> str:
    """The registered ``q_llm_minhash_index_query`` oracle, restricted to
    pairs that touch the batch instead of the registered delta ids."""
    from iceberg_twist_spark.llm.index_lifecycle import (
        _MINHASH_QUERY_ORACLE,
        DELTA_MOD,
    )

    old = f"WHERE doc_a % {DELTA_MOD} = 0 OR doc_b % {DELTA_MOD} = 0"
    new = ("WHERE doc_a IN (SELECT doc_id FROM batch) "
           "OR doc_b IN (SELECT doc_id FROM batch)")
    assert old in _MINHASH_QUERY_ORACLE, "oracle text changed; update the batch filter"
    return _MINHASH_QUERY_ORACLE.replace(old, new)


def _ids(ids) -> str:
    return ",".join(str(int(i)) for i in ids)


def build_model(ops: list[dict], data_dir: str) -> dict:
    """Replay ``ops`` on DuckDB: expected hashes for every read, the
    table states a changelog starts from and ends at, the user bytes of
    every write and the live-row Arrow bytes at the end."""
    import duckdb

    con = duckdb.connect()
    orders = f"read_parquet('{data_dir}/orders.parquet/*.parquet')"
    con.execute(f"CREATE TABLE src AS SELECT {', '.join(COLS)} FROM {orders}")
    con.execute("CREATE TABLE docs AS SELECT doc_id, text FROM "
                f"read_parquet('{data_dir}/documents.parquet/*.parquet')")
    con.execute("CREATE TABLE cur AS SELECT * FROM src")
    n_docs = con.execute("SELECT count(*) FROM docs").fetchone()[0]
    live = {d for d in range(n_docs) if d % HOLDOUT_MOD != 0}
    oracle = _minhash_oracle_sql()

    def state() -> Counter:
        return Counter(tuple(_norm(v) for v in r) for r in con.execute("SELECT * FROM cur").fetchall())

    def hashed(sql: str) -> str:
        cur = con.execute(sql)
        return result_hash([c[0] for c in cur.description], cur.fetchall())

    def shifted(lo, n, offset, status=None, price=0.0) -> str:
        st = f"'{status}'" if status else "o_orderstatus"
        return (f"SELECT o_orderkey + {offset} AS o_orderkey, o_custkey, {st} AS o_orderstatus, "
                f"o_totalprice + {price} AS o_totalprice, o_orderdate, o_orderpriority "
                f"FROM src WHERE o_orderkey BETWEEN {lo} AND {lo + n - 1}")

    expect: dict[int, object] = {}
    user_bytes: dict[int, int] = {}
    round_start = Counter()
    for i, op in enumerate(ops):
        k = op["kind"]
        if i and ops[i - 1].get("warm") and not op.get("warm"):
            round_start = state()  # the timed part starts here
        if k == "append":
            sql = shifted(op["lo"], op["n"], op["offset"])
            user_bytes[i] = con.execute(sql).arrow().nbytes
            con.execute(f"INSERT INTO cur {sql}")
        elif k == "delete_keys":
            user_bytes[i] = 8 * len(op["keys"])
            con.execute(f"DELETE FROM cur WHERE o_orderkey IN ({_ids(op['keys'])})")
        elif k == "merge":
            sql = (shifted(op["ulo"], op["un"], 0, status="U", price=1.0) + " UNION ALL "
                   + shifted(op["ilo"], op["in"], op["offset"]))
            con.execute(f"CREATE OR REPLACE TABLE msrc AS {sql}")
            user_bytes[i] = con.execute("SELECT * FROM msrc").arrow().nbytes
            con.execute("DELETE FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM msrc)")
            con.execute("INSERT INTO cur SELECT * FROM msrc")
        elif k == "index_append":
            user_bytes[i] = con.execute(
                f"SELECT * FROM docs WHERE doc_id IN ({_ids(op['docs'])})").arrow().nbytes
            live |= set(op["docs"])
        elif k == "index_remove":
            user_bytes[i] = 8 * len(op["docs"])
            live -= set(op["docs"])
        elif op.get("warm"):
            pass  # warm-up reads are not checked
        elif k == "read_full":
            expect[i] = hashed(_agg_sql())
        elif k == "read_skip":
            expect[i] = hashed(_agg_sql(f"WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}"))
        elif k == "changelog":
            expect[i] = (round_start, state())
        elif k == "index_lookup":
            con.execute(f"CREATE OR REPLACE TABLE batch AS SELECT doc_id FROM docs "
                        f"WHERE doc_id IN ({_ids(op['docs'])})")
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs "
                        f"WHERE doc_id IN ({_ids(sorted(live | set(op['docs'])))})")
            expect[i] = hashed(oracle)
    live_bytes = (con.execute("SELECT * FROM cur").arrow().nbytes
                  + con.execute(f"SELECT * FROM docs WHERE doc_id IN ({_ids(sorted(live))})")
                  .arrow().nbytes)
    con.close()
    return {"expect": expect, "user_bytes": user_bytes, "live_bytes": live_bytes}


def apply_changelog(start: Counter, rows) -> Counter | None:
    """State ``start`` with a changelog applied commit by commit (deletes
    before inserts within a commit); None when a delete names a row the
    state does not hold."""
    state = Counter(start)
    by_commit: dict[int, list] = {}
    for r in rows:
        by_commit.setdefault(r["_commit_snapshot_id"], []).append(r)
    for sid in sorted(by_commit):
        for want in ("delete", "insert"):
            for r in by_commit[sid]:
                if r["_change_type"] != want:
                    continue
                t = tuple(_norm(r[c]) for c in COLS)
                if want == "delete":
                    if state[t] <= 0:
                        return None
                    state[t] -= 1
                else:
                    state[t] += 1
    return +state


# ---------------------------------------------------------------- the run
def _manifest(table_dir: str) -> dict:
    import json

    meta = os.path.join(table_dir, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(meta, f"v{sid}.json")) as f:
        return json.load(f)


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Episode:
    """One table + one index, replaying the op sequence through the
    engine's public verbs."""

    def __init__(self, ctx, name: str, orders, docs) -> None:
        from iceberg_twist_spark.api import Engine
        from iceberg_twist_spark.llm.index_lifecycle import MINHASH_QUERY_TAU
        from iceberg_twist_spark.sources.snapshots import SnapshotTable
        from pyspark.sql import functions as F

        self.ctx, self.F, self.Engine = ctx, F, Engine
        self.docs = docs
        self.schema = orders.schema
        # ingest batches are built on the driver from these rows, so a
        # commit's input has the same partitioning for every seed
        self.rows = {r[0]: tuple(r) for r in orders.collect()}
        self.root = root = os.path.join(ctx.run_dir, "work", name)
        self.table_dir, self.index_dir = os.path.join(root, "table"), os.path.join(root, "index")
        self.table = SnapshotTable(ctx.spark, self.table_dir)
        # range-partitioned on the key so manifest zone maps can prune
        self.table.create(orders.repartitionByRange(4, "o_orderkey"))
        Engine.build_minhash_index(docs.filter(F.col("doc_id") % HOLDOUT_MOD != 0),
                                   "text", "doc_id", self.index_dir, tau=MINHASH_QUERY_TAU)
        self.round_start = self.table.current_snapshot_id()

    def save(self, dst: str) -> None:
        shutil.copytree(self.root, dst)

    def restore(self, src: str) -> None:
        """Put the table and index back to a state ``save`` copied (in
        place: the table's manifests name its files by path)."""
        from iceberg_twist_spark.sources.snapshots import SnapshotTable

        shutil.rmtree(self.root)
        shutil.copytree(src, self.root)
        self.table = SnapshotTable(self.ctx.spark, self.table_dir)
        self.round_start = self.table.current_snapshot_id()

    def _shifted(self, lo, n, offset, status=None, price=0.0) -> list[tuple]:
        out = []
        for key in range(lo, lo + n):
            _k, cust, st, total, date, prio = self.rows[key]
            out.append((key + offset, cust, status or st, total + price, date, prio))
        return out

    def _agg(self, df):
        F = self.F
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("sk"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias("cents"),
        )

    def _batch(self, ids):
        return self.docs.filter(self.F.col("doc_id").isin([int(i) for i in ids]))

    def call(self, op: dict):
        """The timed part of ``op``: one public verb, result collected."""
        k, t, E, spark = op["kind"], self.table, self.Engine, self.ctx.spark
        if k == "append":
            rows = self._shifted(op["lo"], op["n"], op["offset"])
            return t.append(spark.createDataFrame(rows, self.schema))
        if k == "delete_keys":
            keys = spark.createDataFrame([(int(x),) for x in op["keys"]], "o_orderkey long")
            return t.delete_keys(keys, "o_orderkey")
        if k == "merge":
            rows = (self._shifted(op["ulo"], op["un"], 0, status="U", price=1.0)
                    + self._shifted(op["ilo"], op["in"], op["offset"]))
            return t.merge(spark.createDataFrame(rows, self.schema), "o_orderkey")
        if k == "read_full":
            return self._agg(t.read()).collect()
        if k == "read_skip":
            return self._agg(t.read(skip=("o_orderkey", op["lo"], op["hi"]))).collect()
        if k == "changelog":
            return t.read_changelog(self.round_start, t.current_snapshot_id()).collect()
        if k == "rewrite":
            return t.rewrite_data_files()
        if k == "expire":
            return t.expire_snapshots(keep_last=op["keep_last"])
        if k == "index_lookup":
            return E.near_dup_pairs_against_index(
                self._batch(op["docs"]), "text", "doc_id", self.index_dir).collect()
        if k == "index_append":
            return E.minhash_index_append(self._batch(op["docs"]), "text", "doc_id",
                                          self.index_dir)
        if k == "index_remove":
            return E.minhash_index_remove(spark, self.index_dir, op["docs"])
        if k == "index_compact":
            return E.minhash_index_compact(spark, self.index_dir)
        raise ValueError(f"unknown op kind {k!r}")

    @staticmethod
    def check(op: dict, value, want) -> bool:
        k = op["kind"]
        if k in ("read_full", "read_skip"):
            return result_hash(["o_orderstatus", "n", "sk", "cents"], value) == want
        if k == "index_lookup":
            return result_hash(["doc_a", "doc_b", "jaccard"], value) == want
        if k == "changelog":
            start, end = want
            return apply_changelog(start, [r.asDict() for r in value]) == end
        return True  # writes are judged by the reads that follow them


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from perfbench.common import generate

    ctx.t["datagen_s"] = generate(ctx.spark, ctx.data_dir, ctx.seed, SF, None,
                                  tables=("orders", "documents"))
    orders = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet")).select(*COLS)
    docs = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet")).select(
        "doc_id", "text")
    n_orders = orders.count()
    n_docs = docs.select(F.max("doc_id")).head()[0] + 1
    ops = op_sequence(ctx.seed, n_orders, n_docs)
    t0 = time.perf_counter()
    model = build_model(ops, ctx.data_dir)
    ctx.t["oracle_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    with ctx.span("session.warmup"):
        ep = Episode(ctx, "episode", orders, docs)
        for op in ops:
            if op.get("warm"):
                ep.call(op)
        staged = os.path.join(ctx.run_dir, "work", "staged")
        ep.save(staged)
        ep.round_start = ep.table.current_snapshot_id()
    ctx.t["warmup_s"] = time.perf_counter() - t0
    extra = {"plan_files_s": [], "pruned_frac": [], "pending_deletes": 0,
             "live_files": 0, "bytes_written": 0, "user_bytes": 0}
    episode = 0
    ctx.begin_timed()
    t_measure = time.perf_counter()
    while True:
        for i, op in enumerate(ops):
            if not op.get("warm"):
                _timed_op(ctx, ep, op, f"{episode}:{i}", model, i, extra)
        episode += 1
        if episode == MIN_EPISODES:
            ctx.rec.fixed_ops = ctx.rec.attempted
        if episode >= MIN_EPISODES and time.perf_counter() - t_measure >= ctx.seconds:
            break
        ep.restore(staged)  # untimed reset: the same episode from the same state
    ctx.end_timed()
    table_bytes, index_bytes = dir_bytes(ep.table_dir), dir_bytes(ep.index_dir)
    extra.update({
        "episodes": episode,
        "metadata_bytes": dir_bytes(os.path.join(ep.table_dir, "metadata")),
        "index_bytes": index_bytes,
        "space_amp": (table_bytes + index_bytes) / model["live_bytes"],
    })
    return extra


def _timed_op(ctx, ep: Episode, op: dict, op_id: str, model: dict, i: int,
              extra: dict) -> None:
    kind, tracer = op["kind"], ctx.tracer
    before = _files(ep.table_dir) | _files(ep.index_dir) if tracer else {}
    st: dict = {}

    def call():
        with ctx.span(f"op:{kind}", op_id) as span:
            st["span"] = span
            return ep.call(op)

    def after(wall):
        return tracer.op_layers(op_id, wall, 0.0, verb_layer=LAYER[kind], op_span=st["span"])

    r = run_op(ctx.rec, kind, "read" if kind in READS else "write", call,
               lambda v: Episode.check(op, v, model["expect"].get(i)),
               after if tracer else None)
    r.layers["kind"] = kind
    if not tracer:
        return
    tracer.absorb()
    new = _files(ep.table_dir) | _files(ep.index_dir)
    extra["bytes_written"] += sum(size for p, size in new.items() if p not in before)
    extra["user_bytes"] += model["user_bytes"].get(i, 0)
    if kind == "read_skip":
        t0 = time.perf_counter()
        kept = ep.table.plan_files(skip=("o_orderkey", op["lo"], op["hi"]))
        extra["plan_files_s"].append(time.perf_counter() - t0)
        extra["pruned_frac"].append(1 - len(kept) / len(ep.table.plan_files()))
    m = _manifest(ep.table_dir)
    extra["live_files"] = max(extra["live_files"], len(m["files"]))
    extra["pending_deletes"] = max(
        extra["pending_deletes"], len(m.get("eq_deletes", [])) + len(m.get("pos_deletes", [])))
