"""Tick-dialect workload: these queries run through the FULL engine path —
Arrow/Spark ingest into PK-ordered warehouse tables, the opentick SQL
dialect, upsert view, implicit PK ordering, and the adj() as-of operator —
and are still oracle-checkable because the warehouse contents are a pure
deterministic function of the driver's events.parquet.

Mapping: trades(sec=user_id, tm=ts truncated to µs, px=value, vol=value);
_adj_ factor events are the 'signup' events with value>150, with **dyadic**
factors (px ∈ {0.5, 0.25}, vol ∈ {2, 4}) so cumulative products and
adjusted values are exact in binary floating point — the Spark and DuckDB
results match bit-for-bit with no rounding.
"""

from __future__ import annotations

import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentick_spark.engine import Engine
from opentick_spark.workload.util import load

QUERIES = {}
ORACLES = {}

_engines: dict[tuple, Engine] = {}
_lock = threading.Lock()

# factor derivation shared by the Spark ingest and the oracle SQL
_ORACLE_FACTORS = """
  SELECT user_id AS sec, ts AS time,
         CASE WHEN FLOOR(value)::BIGINT % 2 = 0 THEN 0.5 ELSE 0.25 END AS px,
         CASE WHEN FLOOR(value)::BIGINT % 2 = 0 THEN 2.0 ELSE 4.0 END AS vol
  FROM events WHERE event_type = 'signup' AND value > 150
"""


def tick_engine(spark: SparkSession, sf_dir: str) -> Engine:
    """Build (once per sf_dir) a warehouse holding trades + _adj_ derived
    from events.parquet, ingested through the engine's own write path."""
    # applicationId is a stable session-identity token (id() could be
    # reused by a new session at the same address after GC)
    key = (spark.sparkContext.applicationId, sf_dir)
    with _lock:
        if key in _engines:
            return _engines[key]
        eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_wh_"))
        eng.execute("create database ticks")
        eng.use("ticks")
        eng.execute(
            "create table trades(sec int, tm timestamp, px double, vol double, "
            "primary key(sec, tm))"
        )
        ev = load(spark, sf_dir, "events")
        trades = ev.select(
            F.col("user_id").cast("int").alias("sec"),
            (F.expr("ts div 1000") * 1000).alias("tm"),  # µs-aligned nanos
            F.col("value").alias("px"),
            F.col("value").alias("vol"),
        )
        eng.store("ticks", "trades").append_dataframe(trades)
        dyadic = F.floor("value").cast("long") % 2 == 0
        factors = ev.filter(
            (F.col("event_type") == "signup") & (F.col("value") > 150)
        ).select(
            F.col("user_id").cast("int").alias("sec"),
            (F.expr("ts div 1000") * 1000).alias("time"),
            F.when(dyadic, 0.5).otherwise(0.25).alias("px"),
            F.when(dyadic, 2.0).otherwise(4.0).alias("vol"),
        )
        eng.store("ticks", "_adj_").append_dataframe(factors)
        # compact so reads take the window-free PK-sorted path; trades get
        # a hash-bucketed base → sec-point queries prune bucket dirs
        eng.store("ticks", "trades").compact(
            spark, target_partitions=8, hash_buckets=8
        )
        eng.store("ticks", "_adj_").compact(spark, target_partitions=1)
        _engines[key] = eng
        return eng


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _us(df: DataFrame) -> DataFrame:
    """tm (µs-aligned nanos) → ts_us for oracle comparison."""
    return df.withColumn("ts_us", F.expr("tm div 1000")).drop("tm")


@q(
    "dialect_point_get",
    "SELECT value AS px FROM events WHERE user_id = 7 "
    "AND ts = (SELECT MIN(ts) FROM events WHERE user_id = 7)",
)
def dialect_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-PK point get through the dialect (reference S2): all key
    columns equality-bound."""
    eng = tick_engine(spark, sf_dir)
    first_tm = (
        eng.execute("select tm from trades where sec=7 limit 1")
        .collect()[0][0]
    )
    sec, nsec = divmod(first_tm, 1_000_000_000)
    return eng.execute("select px from trades where sec=7 and tm=?", [sec, nsec])


@q(
    "dialect_prefix_scan",
    "SELECT epoch_us(ts) AS ts_us, value AS px FROM events WHERE user_id = 7",
)
def dialect_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-prefix scan through the dialect (reference S3) — exercises the
    upsert-view read path + implicit PK ordering."""
    eng = tick_engine(spark, sf_dir)
    return _us(eng.execute("select tm, px from trades where sec=7"))


@q(
    "dialect_range_tail",
    """
    SELECT epoch_us(ts) AS ts_us, value AS px FROM events
    WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-10'
    ORDER BY ts DESC LIMIT 5
    """,
)
def dialect_range_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + LIMIT -n (tail, descending) through the dialect
    (reference S3/S4/A3)."""
    eng = tick_engine(spark, sf_dir)
    return _us(
        eng.execute(
            "select tm, px from trades where sec=7 and tm>=? limit -5",
            1704844800,  # 2024-01-10 epoch seconds
        )
    )


_ADJ_ROWS = "SELECT user_id AS sec, ts AS tm, value AS px, value AS vol FROM events WHERE user_id < 10"

ADJ_FWD_ORACLE = f"""
WITH raw AS ({_ORACLE_FACTORS}),
cum AS (
  SELECT sec, time,
    product(CASE WHEN px = 0 THEN 1 ELSE px END) OVER
      (PARTITION BY sec ORDER BY time
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS px_f,
    product(CASE WHEN vol = 0 THEN 1 ELSE vol END) OVER
      (PARTITION BY sec ORDER BY time
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vol_f,
    COALESCE(LAG(time) OVER (PARTITION BY sec ORDER BY time),
             TIMESTAMP '1900-01-01') AS start_time,
    time AS end_time
  FROM raw
),
r AS ({_ADJ_ROWS})
SELECT r.sec, epoch_us(r.tm) AS ts_us,
  r.px * (CASE WHEN f.sec IS NOT NULL AND r.tm < f.end_time THEN f.px_f ELSE 1 END) AS px,
  r.vol * (CASE WHEN f.sec IS NOT NULL AND r.tm < f.end_time THEN f.vol_f ELSE 1 END) AS vol
FROM r ASOF LEFT JOIN cum f ON r.sec = f.sec AND r.tm >= f.start_time
"""

ADJ_BWD_ORACLE = f"""
WITH raw AS ({_ORACLE_FACTORS}),
cum AS (
  SELECT sec, time,
    1.0 / product(CASE WHEN px = 0 THEN 1 ELSE px END) OVER
      (PARTITION BY sec ORDER BY time
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px_b,
    1.0 / product(CASE WHEN vol = 0 THEN 1 ELSE vol END) OVER
      (PARTITION BY sec ORDER BY time
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vol_b
  FROM raw
),
r AS ({_ADJ_ROWS})
SELECT r.sec, epoch_us(r.tm) AS ts_us,
  r.px * COALESCE(f.px_b, 1) AS px,
  r.vol * COALESCE(f.vol_b, 1) AS vol
FROM r ASOF LEFT JOIN cum f ON r.sec = f.sec AND r.tm >= f.time
"""


@q("adj_forward", ADJ_FWD_ORACLE)
def adj_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """adj() forward through the dialect (reference adj.go): as-of factor
    = first event strictly after each row; dyadic factors ⇒ exact
    cross-engine equality with no rounding."""
    eng = tick_engine(spark, sf_dir)
    return _us(eng.execute("select sec, tm, adj(px), adj(vol) from trades where sec<10"))


@q("adj_backward", ADJ_BWD_ORACLE)
def adj_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """adj(col, true) backward: last event at-or-before each row."""
    eng = tick_engine(spark, sf_dir)
    return _us(
        eng.execute(
            "select sec, tm, adj(px, true), adj(vol, true) from trades where sec<10"
        )
    )


@q(
    "dialect_upsert_delete",
    """
    SELECT 1 AS a,
           -- CAST: BIGINT * DECIMAL literal types as DECIMAL(22,1) in
           -- DuckDB; the driver's value hash needs DOUBLE like Spark's
           CAST(CASE WHEN i % 2 = 0 THEN i * 10.0 ELSE i * 1.0 END
                AS DOUBLE) AS x,
           i * 1000000 AS ts_us
    FROM range(0, 80) r(i)
    """,
)
def dialect_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful roundtrip: upsert-by-PK overwrite + range delete through
    the dialect, returning the final table state. Mirrors
    server_test.go:96-99 and query_test.go:134-138 semantics. The final
    state is a closed-form constant (evens overwritten x10, b>=80
    deleted), so the oracle is a VALUES-style range expression."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_dml_"))
    eng.execute("create database t")
    eng.use("t")
    eng.execute("create table s(a int, b timestamp, x double, primary key(a, b))")
    pid = eng.prepare("insert into s(a, b, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(1, i, float(i)) for i in range(100)])
    eng.batch_insert(pid, [(1, i, float(i) * 10) for i in range(0, 100, 2)])  # upsert evens
    eng.execute("delete from s where a=1 and b>=? and b<?", 80, 100)
    return (
        eng.execute("select a, b, x from s")
        .withColumn("ts_us", F.expr("b div 1000"))
        .drop("b")
    )


@q(
    "snapshot_diff",
    """
    SELECT * FROM (VALUES
      (3, 'changed', 330.0),
      (5, 'removed', CAST(NULL AS DOUBLE)),
      (9, 'added', 90.0)
    ) AS t(doc_id, change, score)
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over the commit log (TableStore.diff): the
    incremental-curation primitive — classify every PK as added /
    removed / changed between two time-travel snapshots so downstream
    pipeline stages re-run on the delta, not the corpus. Both snapshots
    and the full-outer join shuffle on the same PK. The workload is a
    closed-form DML script, so the oracle is the expected delta as a
    VALUES literal."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_diff_"))
    eng.execute("create database v")
    eng.use("v")
    eng.execute("create table docs(doc_id int, score double, primary key(doc_id))")
    pid = eng.prepare("insert into docs(doc_id, score) values(?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10) for i in range(1, 9)])
    st = eng.store("v", "docs")
    seq_a = st.current_seq()
    eng.batch_insert(pid, [(3, 330.0), (9, 90.0)])  # change 3, add 9
    eng.execute("delete from docs where doc_id=5")
    return st.diff(spark, seq_a).select(
        F.col("doc_id").cast("int").alias("doc_id"), "change", "score"
    )


@q(
    "log_diff_incremental",
    """
    SELECT * FROM (VALUES
      (3, 'changed', 330.0, 30.0),
      (5, 'removed', CAST(NULL AS DOUBLE), 50.0),
      (7, 'changed', 770.0, 70.0),
      (9, 'added', 90.0, CAST(NULL AS DOUBLE))
    ) AS t(doc_id, change, score, old_score)
    """,
)
def log_diff_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TAIL-ONLY incremental diff (TableStore.log_diff, r6/r7): same
    added/removed/changed classification as ``diff`` but the new side
    reads ONLY commits after ``from_seq`` (path-level pruning — the
    pre-checkpoint corpus is never listed) and the old side is a
    broadcast-semi-join point lookup of the touched PKs, so cost is
    delta-sized at any corpus size — the 100 TB CDC shape. The tail
    deliberately mixes BOTH commit layouts (dialect row inserts =
    commit-<seq>.parquet FILES, bulk append_dataframe = commit
    DIRECTORIES — the file layout broke the tail listing before the r7
    fix) and ``include_old=True`` exercises the retraction columns.
    Closed-form DML script → VALUES oracle;
    log_diff == diff equivalence is property-tested per-seed in
    tests/test_ivm.py."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_logdiff_"))
    eng.execute("create database v")
    eng.use("v")
    eng.execute(
        "create table docs(doc_id int, score double, primary key(doc_id))"
    )
    pid = eng.prepare("insert into docs(doc_id, score) values(?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10) for i in range(1, 9)])
    st = eng.store("v", "docs")
    seq_a = st.current_seq()
    # file commits (dialect row path): change 3, add 9, delete 5
    eng.batch_insert(pid, [(3, 330.0), (9, 90.0)])
    eng.execute("delete from docs where doc_id=5")
    # directory commit (Spark bulk path): change 7
    st.append_dataframe(
        spark.createDataFrame([(7, 770.0)], "doc_id int, score double")
    )
    return st.log_diff(spark, seq_a, include_old=True).select(
        F.col("doc_id").cast("int").alias("doc_id"),
        "change",
        "score",
        "old_score",
    )


@q(
    "drop_evolution_state",
    """
    SELECT * FROM (VALUES
      (1, 10.0, CAST(NULL AS VARCHAR)),
      (2, 220.0, CAST(NULL AS VARCHAR)),
      (3, 30.0, 'n3'),
      (4, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR))
    ) AS t(k, v, tag)
    """,
)
def drop_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP COLUMN lifecycle (r10): base k=1..3 with
    (v=10k, tag 't<k>'); DROP tag — then a merge updates {2} and
    inserts {4} on the narrowed schema; RE-ADD tag (fresh physical —
    the old 't1'..'t3' values must NOT resurrect) and a sparse merge
    sets tag only for {3} (v=30 preserved); compact (sheds the retired
    physical from the base) and verify the closed form end-to-end:
    every tag except k=3's post-re-add write is NULL."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_dropev_"))
    eng.execute("create database de")
    eng.use("de")
    eng.execute(
        "create table t(k int, v double, tag text, primary key(k))"
    )
    pid = eng.prepare("insert into t(k, v, tag) values(?, ?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10, f"t{i}") for i in range(1, 4)])
    eng.execute("alter table t drop column tag")
    st = eng.store("de", "t")
    st.merge_into(
        spark,
        spark.createDataFrame([(2, 220.0), (4, None)], "k int, v double"),
    )
    eng.execute("alter table t add column tag text")
    st = eng.store("de", "t")  # re-resolve the evolved schema
    st.merge_into(
        spark, spark.createDataFrame([(3, "n3")], "k int, tag string")
    )
    st.compact(spark)
    return eng.execute("select k, v, tag from t").select(
        F.col("k").cast("int").alias("k"),
        F.col("v").cast("double").alias("v"),
        "tag",
    )


@q(
    "widen_evolution_state",
    """
    SELECT CAST(k AS BIGINT) AS k, CAST(v AS DOUBLE) AS v FROM (VALUES
      (1, 1.5), (2, 2.25), (3, 4.5), (5000000000, 0.5)
    ) AS t(k, v) ORDER BY k
    """,
)
def widen_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE MODIFY COLUMN lifecycle (r11, extension — the
    reference's schemas are frozen at CREATE, schema.go:444-470):
    base k=1..3 with v float (1.5/2.0/4.5, all float32-exact); widen v
    to double and upsert {2 → 2.25} (a value unrepresentable pre-widen
    landing through the S7 insert-as-upsert path); widen the PK k to
    bigint (saturating int32 clamps lift) and insert k=5e9 > 2^31;
    compact (rewrites the mixed narrow/wide files under the wide
    schema) and verify the closed form end-to-end. Old narrow-file rows
    must read bit-exact through Spark 4's parquet widening reads both
    before and after the compaction rewrite."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_widenev_"))
    eng.execute("create database we")
    eng.use("we")
    eng.execute("create table t(k int, v float, primary key(k))")
    pid = eng.prepare("insert into t(k, v) values(?, ?)")
    eng.batch_insert(pid, [(1, 1.5), (2, 2.0), (3, 4.5)])
    eng.execute("alter table t modify column v double")
    eng.execute("insert into t(k, v) values(2, 2.25)")  # upsert, wide value
    eng.execute("alter table t modify column k bigint")
    eng.execute("insert into t(k, v) values(5000000000, 0.5)")
    st = eng.store("we", "t")
    # materialize the pre-compact (mixed narrow/wide files) state NOW:
    # compaction GCs the log files this lazy plan would reference
    mid = sorted(map(tuple, eng.execute("select k, v from t").collect()))
    st.compact(spark)
    post = eng.execute("select k, v from t")
    # pre/post-compaction agreement is part of the contract under test
    assert mid == sorted(map(tuple, post.collect()))
    return post.select(
        F.col("k").cast("bigint").alias("k"), F.col("v").cast("double").alias("v")
    )


@q(
    "idempotent_batch_state",
    """
    -- cast both columns: un-cast VALUES literals type as INT32/DECIMAL(3,1)
    -- in DuckDB, which the driver's value hash sees differently from
    -- Spark's int/double even when the values agree (VERDICT r11 #1/#2)
    SELECT CAST(k AS INTEGER) AS k, CAST(v AS DOUBLE) AS v FROM (VALUES
      (1, 1.0), (2, 2.0), (3, 33.0), (4, 4.0)
    ) AS t(k, v)
    """,
)
def idempotent_batch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once batch ingest (r10): batch {1,2} lands under key A;
    the SAME batch retries under key A (no-op — a duplicate commit
    would be visible as a seq advance and could regress interleaved
    writers); an interleaved keyless update {3→33} lands between the
    original and the retry and must SURVIVE it; a post-compaction retry
    of key A is still deduped (markers fold through the intent); key B
    applies normally. Final state is the VALUES closed form; the seq
    arithmetic is asserted in-function — exactly 4 seqs: batch A, the
    keyless {3} update, the compaction, batch B; the two retries of A
    allocate nothing."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_idem_"))
    eng.execute("create database ib")
    eng.use("ib")
    eng.execute("create table t(k int, v double, primary key(k))")
    pid = eng.prepare("insert into t(k, v) values(?, ?)")
    st = eng.store("ib", "t")
    eng.batch_insert(pid, [(1, 1.0), (2, 2.0), (3, 3.0)], idempotency_key="A")
    eng.batch_insert(pid, [(3, 33.0)])  # interleaved writer
    eng.batch_insert(pid, [(1, 9.0), (2, 9.0)], idempotency_key="A")  # retry
    st.compact(spark)
    eng.batch_insert(pid, [(1, 9.0)], idempotency_key="A")  # post-compact
    eng.batch_insert(pid, [(4, 4.0)], idempotency_key="B")
    n_commits = st.current_seq()
    # A, {3} update, compact seq, B: retries added nothing
    if n_commits != 4:
        raise AssertionError(f"expected 4 seqs (retries deduped): {n_commits}")
    return eng.execute("select k, v from t").select(
        F.col("k").cast("int").alias("k"),
        F.col("v").cast("double").alias("v"),
    )


@q(
    "merge_sparse_preserve",
    """
    SELECT * FROM (VALUES
      (1, 10.0, 't1'),
      (2, 220.0, 't2'),
      (3, 30.0, 'x'),
      (4, 40.0, 't4'),
      (5, 550.0, CAST(NULL AS VARCHAR)),
      (6, CAST(NULL AS DOUBLE), 'y')
    ) AS t(k, v, tag)
    """,
)
def merge_sparse_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-source MERGE semantics (r10): a source omitting a value
    column PRESERVES the target's existing value on matched updates
    (SQL/Delta MERGE — only columns the source carries are set) and
    NULL-backfills on inserts. Base k=1..4 (v=10k, tag 't<k>');
    merge 1 carries only (k, v): update {2} → v=220 with tag 't2'
    SURVIVING, insert {5} → tag NULL; merge 2 carries only (k, tag):
    update {3} → tag 'x' with v=30 surviving, insert {6} → v NULL.
    Rows 1 and 4 untouched. The matched-ness scans are range-pruned to
    each source's k-span (``_merge_scan``) — the oracle failing would
    catch over-pruning as loudly as a semantics break."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_mrgsp_"))
    eng.execute("create database sp")
    eng.use("sp")
    eng.execute(
        "create table docs(k int, v double, tag text, primary key(k))"
    )
    pid = eng.prepare("insert into docs(k, v, tag) values(?, ?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10, f"t{i}") for i in range(1, 5)])
    st = eng.store("sp", "docs")
    st.merge_into(
        spark,
        spark.createDataFrame([(2, 220.0), (5, 550.0)], "k int, v double"),
    )
    st.merge_into(
        spark,
        spark.createDataFrame([(3, "x"), (6, "y")], "k int, tag string"),
    )
    return eng.execute("select k, v, tag from docs").select(
        F.col("k").cast("int").alias("k"),
        F.col("v").cast("double").alias("v"),
        "tag",
    )


@q(
    "merge_into_final_state",
    """
    -- CAST v: un-cast VALUES decimal literals type as DECIMAL(3,1)
    SELECT k, CAST(v AS DOUBLE) AS v, tag FROM (VALUES
      (1, 10.0, 'old'),
      (2, 22.0, 'upd'),
      (4, 44.0, 'upd'),
      (5, 50.0, 'old'),
      (8, 88.0, 'new')
    ) AS t(k, v, tag)
    """,
)
def merge_into_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO (r8, ``TableStore.merge_into``): one
    source-driven statement applies updates, deletes, and inserts as
    ONE atomic commit (per-row tombstone flags in a single seq — a
    reader sees all of the merge or none of it, and ``log_diff`` sees
    one delta). Base table k=1..5 (v=10·k, tag 'old'); merge 1 updates
    {2,4} and inserts {8}; merge 2 delete-matches {3} (its unmatched
    source row {99} is ignored under when_not_matched=None). Final
    state is the closed-form VALUES oracle: 1,5 stay 'old', 2,4
    updated, 3 deleted, 8 inserted."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_merge_"))
    eng.execute("create database m")
    eng.use("m")
    eng.execute(
        "create table docs(k int, v double, tag text, primary key(k))"
    )
    pid = eng.prepare("insert into docs(k, v, tag) values(?, ?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10, "old") for i in range(1, 6)])
    st = eng.store("m", "docs")
    upd = spark.createDataFrame(
        [(2, 22.0, "upd"), (4, 44.0, "upd"), (8, 88.0, "new")],
        "k int, v double, tag string",
    )
    st.merge_into(spark, upd, when_matched="update", when_not_matched="insert")
    dele = spark.createDataFrame(
        [(3, 0.0, "x"), (99, 0.0, "x")], "k int, v double, tag string"
    )
    st.merge_into(spark, dele, when_matched="delete", when_not_matched=None)
    return eng.execute("select k, v, tag from docs").select(
        F.col("k").cast("int").alias("k"),
        F.col("v").cast("double").alias("v"),
        "tag",
    )


@q(
    "merge_evolution_state",
    """
    SELECT * FROM (VALUES
      (1, 10.0, CAST(NULL AS VARCHAR), CAST(5 AS BIGINT)),
      (2, 220.0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
      (3, 330.0, 'b3', CAST(NULL AS BIGINT)),
      (4, 40.0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
      (6, 660.0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
      (7, 770.0, 'b7', CAST(NULL AS BIGINT)),
      (8, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(8 AS BIGINT))
    ) AS t(k, w, tag, v)
    """,
)
def merge_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO composed with ALTER TABLE schema evolution (r9,
    VERDICT item 4): the two r8 storage features in one lifecycle.
    Base k=1..4 (v=10k); ADD COLUMN tag; a SPARSE merge that omits the
    evolved column preserves it on the matched update and
    NULL-backfills the insert (r10 SQL MERGE semantics: update {2},
    insert {6}); a full-width merge lands values (update {3}, insert
    {7}); then RENAME v→w + ADD COLUMN v (bigint — distinct physical
    column, the r8 latent-bug shape) and a sparse merge addressing only
    the NEW v (update {1} — its renamed w=10 SURVIVES the sparse
    update, the r10 preserve contract — insert {8}); compact. Every
    surviving cell is a closed-form VALUES literal — untouched row 4
    keeps its renamed w=40 with NULL in both evolved columns."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_mrgev_"))
    eng.execute("create database me")
    eng.use("me")
    eng.execute("create table t(k int, v double, primary key(k))")
    pid = eng.prepare("insert into t(k, v) values(?, ?)")
    eng.batch_insert(pid, [(i, float(i) * 10) for i in range(1, 5)])
    eng.execute("alter table t add column tag text")
    st = eng.store("me", "t")
    st.merge_into(
        spark,
        spark.createDataFrame([(2, 220.0), (6, 660.0)], "k int, v double"),
    )
    st.merge_into(
        spark,
        spark.createDataFrame(
            [(3, 330.0, "b3"), (7, 770.0, "b7")],
            "k int, v double, tag string",
        ),
    )
    eng.execute("alter table t rename column v to w")
    eng.execute("alter table t add column v bigint")
    st.merge_into(
        spark, spark.createDataFrame([(1, 5), (8, 8)], "k int, v bigint")
    )
    st.compact(spark)
    return eng.execute("select k, w, tag, v from t").select(
        F.col("k").cast("int").alias("k"),
        F.col("w").cast("double").alias("w"),
        "tag",
        F.col("v").cast("long").alias("v"),
    )


@q(
    "incremental_agg_maintenance",
    """
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 5 != 0 AND o_orderkey % 13 = 0
                  THEN '9-MOVED' ELSE o_orderpriority END AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 5 != 0 AND o_orderkey % 11 = 0
                      THEN 10000 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 7 != 0
    )
    SELECT pri, COUNT(*) AS n_orders, SUM(cents)::BIGINT AS total_cents
    FROM final GROUP BY 1
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the commit log
    (operators/ivm.py): a grouped COUNT/SUM aggregate is seeded ONCE
    from the base snapshot, persisted as its own PK table, then kept
    current by applying ``TableStore.diff(include_old=True)`` — new
    orders insert, corrections upsert (a price bump AND a
    priority-group move, so retraction must use the diff's old_*
    columns), cancellations delete. ``diff`` itself rescans the fact
    table (it resolves and full-outer-joins both snapshots;
    ``log_diff`` is the delta-sized form). After the diff, the
    signed-delta aggregate is diff-sized, the merge joins #groups vs
    #touched-groups, and the write-back is a latest-wins upsert commit
    (vanished groups become tombstones). Money is integer cents, so state+delta
    arithmetic is exact and the oracle (a full recompute of the FINAL
    logical state in DuckDB) matches bit-for-bit; the state+diff ==
    recompute equivalence is additionally property-tested over random
    DML sequences in tests/test_ivm.py."""
    from opentick_spark.operators.ivm import (
        IVM_COUNT,
        full_state,
        group_delta,
        merge_agg_state,
    )

    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_ivm_"))
    eng.execute("create database m")
    eng.use("m")
    eng.execute(
        "create table ords(okey bigint, pri text, cents bigint, "
        "primary key(okey))"
    )
    eng.execute(
        "create table agg(pri text, n bigint, total bigint, primary key(pri))"
    )
    st = eng.store("m", "ords")
    ag = eng.store("m", "agg")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    st.append_dataframe(orders.filter(F.col("okey") % 5 != 0))
    # seed the persisted aggregate from the base snapshot — the last
    # full recompute this pipeline ever runs
    seed = full_state(st.read(spark), ["pri"], ["cents"])
    ag.append_dataframe(
        seed.select(
            "pri",
            F.col(IVM_COUNT).alias("n"),
            F.col("sum_cents").cast("long").alias("total"),
        )
    )
    s1 = st.current_seq()
    # the day's delta: new orders land, corrections upsert, cancels delete
    st.append_dataframe(orders.filter(F.col("okey") % 5 == 0))
    st.append_dataframe(
        orders.filter(
            (F.col("okey") % 5 != 0)
            & ((F.col("okey") % 11 == 0) | (F.col("okey") % 13 == 0))
        ).select(
            "okey",
            F.when(F.col("okey") % 13 == 0, F.lit("9-MOVED"))
            .otherwise(F.col("pri"))
            .alias("pri"),
            (
                F.col("cents")
                + F.when(F.col("okey") % 11 == 0, F.lit(10000)).otherwise(
                    F.lit(0)
                )
            ).alias("cents"),
        )
    )
    st.delete_where(spark, F.col("okey") % 7 == 0)
    # maintain: diff → signed delta → merge → write back. No fact rescan.
    delta = group_delta(
        st.diff(spark, s1, include_old=True), ["pri"], ["cents"]
    )
    state = ag.read(spark).select(
        "pri",
        F.col("n").alias(IVM_COUNT),
        F.col("total").cast("double").alias("sum_cents"),
    )
    merged = merge_agg_state(state, delta, ["pri"], ["cents"])
    gone = state.join(merged.select("pri"), "pri", "left_anti").select(
        "pri",
        F.col(IVM_COUNT).alias("n"),
        F.col("sum_cents").cast("long").alias("total"),
    )
    ag.append_dataframe(gone, delete=True)
    ag.append_dataframe(
        merged.select(
            "pri",
            F.col(IVM_COUNT).alias("n"),
            F.col("sum_cents").cast("long").alias("total"),
        )
    )
    return ag.read(spark).select(
        "pri",
        F.col("n").alias("n_orders"),
        F.col("total").alias("total_cents"),
    )




@q(
    "streaming_upsert_ingest",
    "SELECT user_id AS sec, epoch_us(ts) AS ts_us, value AS px FROM events",
)
def streaming_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming ingest through the engine's write path:
    file stream over events.parquet → foreachBatch → one atomic commit
    per micro-batch into a PK table (the reference's async-insert
    firehose, test.py:44-61, as readStream+upsert). The oracle is the
    batch identity — (user_id, ts) is unique in this dataset, so the
    final table state equals the input stream."""
    import os

    from opentick_spark.streaming.ingest import stream_upsert
    from opentick_spark.workload.util import load_raw as _load_raw
    from opentick_spark.workload.util import normalize_events as _norm

    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_stream_wh_"))
    eng.execute("create database s")
    eng.use("s")
    eng.execute(
        "create table ticks(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    schema = _load_raw(spark, sf_dir, "events").schema
    src_dir = tempfile.mkdtemp(prefix="otspark_stream_in_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    store = eng.store("s", "ticks")

    def shape(df):
        df = _norm(df)  # stored µs timestamps → engine-native ns longs
        return df.select(
            F.col("user_id").cast("int").alias("sec"),
            (F.expr("ts div 1000") * 1000).alias("tm"),
            F.col("value").alias("px"),
        )

    ckpt = tempfile.mkdtemp(prefix="otspark_stream_ck_")
    q_ = stream_upsert(
        spark, src_dir, schema, store, ckpt, transform=shape
    )
    q_.awaitTermination()
    return _us(eng.execute("select sec, tm, px from ticks"))


@q(
    "streaming_cdc_apply",
    """
    WITH first_purchase AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS r
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(user_id AS INTEGER) AS sec, value AS px
    FROM first_purchase WHERE r = 1 AND value >= 50.0
    """,
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY as a stream (r11): a change feed whose rows carry a
    per-row op (upsert vs delete) lands through ``stream_upsert
    (delete_col=...)`` — each micro-batch's mixed upserts AND deletes
    commit as ONE atomic unit (``append_dataframe(delete_col=...)``,
    the MERGE INTO primitive, now reachable from Structured Streaming
    with the same ``<stream_id>:<batch_id>`` exactly-once markers).
    The change set is each user's FIRST purchase: value >= 50 upserts
    (sec, px), value < 50 is a DELETE of that key — a tombstone for a
    never-inserted PK, which must leave the key absent (SQL MERGE's
    no-match delete). One change per key makes the final state
    independent of micro-batch boundaries, so the oracle is closed
    form. 4 shards → multiple batches."""
    import os

    from opentick_spark.streaming.ingest import stream_upsert

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    from pyspark.sql import Window as W

    first = (
        ev.withColumn(
            "__r",
            F.row_number().over(
                W.partitionBy("user_id").orderBy("ts")
            ),
        )
        .filter(F.col("__r") == 1)
        .select(
            F.col("user_id").cast("int").alias("sec"),
            F.col("value").alias("px"),
            (F.col("value") < 50.0).alias("is_del"),
        )
    )
    src_dir = tempfile.mkdtemp(prefix="otspark_cdc_in_")
    first.repartition(4).write.mode("overwrite").parquet(src_dir)

    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_cdc_wh_"))
    eng.execute("create database c")
    eng.use("c")
    eng.execute("create table kv(sec int, px double, primary key(sec))")
    store = eng.store("c", "kv")
    q_ = stream_upsert(
        spark,
        src_dir,
        "sec int, px double, is_del boolean",
        store,
        tempfile.mkdtemp(prefix="otspark_cdc_ck_"),
        max_files_per_trigger=1,
        delete_col="is_del",
    )
    q_.awaitTermination()
    return eng.execute("select sec, px from kv")


@q(
    "continuous_ohlcv",
    """
    SELECT CAST(user_id AS INTEGER) AS sec,
           epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bar_ts_us,
           min_by(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
           max_by(value, ts) AS close, COUNT(*) AS n_ticks,
           ROUND(SUM(value), 4) AS volume
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    """,
)
def continuous_ohlcv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (the reference's pre-aggregated bar tables,
    maintained incrementally — streaming/rollup.py): events split into 4
    parquet files → 4 micro-batches, each merging its partial bars into
    a PK bar table via affected-rows-only atomic upserts. The oracle is
    the one-shot batch rollup: incremental maintenance must converge to
    it exactly (open/close carried with boundary timestamps)."""
    import os

    from opentick_spark.streaming.rollup import continuous_ohlcv
    from opentick_spark.workload.util import load as _load

    eng = Engine(spark, tempfile.mkdtemp(prefix="otspark_cagg_wh_"))
    eng.execute("create database r")
    eng.use("r")
    eng.execute(
        "create table bars(sec int, bar_ts timestamp, open_ts timestamp, "
        "open double, high double, low double, close_ts timestamp, "
        "close double, n_ticks bigint, volume double, "
        "primary key(sec, bar_ts))"
    )
    ev = _load(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="otspark_cagg_in_")
    # 4 source files → 4 real micro-batches (maxFilesPerTrigger=1)
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    ckpt = tempfile.mkdtemp(prefix="otspark_cagg_ck_")
    query = continuous_ohlcv(
        spark,
        src_dir,
        ev.schema,
        eng.store("r", "bars"),
        ckpt,
        key_cols=["sec"],
        pre_filter=F.col("event_type") == "purchase",
        transform=lambda df: df.select(
            F.col("user_id").cast("int").alias("sec"), "ts", "value"
        ),
    )
    query.awaitTermination()
    return eng.store("r", "bars").read(spark).select(
        "sec",
        F.expr("bar_ts div 1000").alias("bar_ts_us"),
        "open",
        "high",
        "low",
        "close",
        F.col("n_ticks").cast("long").alias("n_ticks"),
        F.round("volume", 4).alias("volume"),
    )


@q(
    "meta_catalog",
    """
    SELECT * FROM (VALUES
      ('ticks', '_adj_', 'sec:int,time:timestamp', 'px:double,vol:double'),
      ('ticks', 'trades', 'sec:int,tm:timestamp', 'px:double,vol:double')
    ) AS t(db, tbl, key_cols, value_cols)
    """,
)
def meta_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog surface (reference S15/S16, meta commands server.go:440-499):
    list databases/tables + `meta schema` shape, returned as rows. The
    warehouse catalog is a static function of tick_engine's DDL, so the
    oracle is the expected catalog as a VALUES literal — a real
    value-hash check on the DDL + introspection path."""
    eng = tick_engine(spark, sf_dir)
    rows = []
    for db in eng.list_databases():
        for tbl in eng.list_tables(db):
            key_cols, val_cols = eng.table_meta(db, tbl)
            rows.append(
                (
                    db,
                    tbl,
                    ",".join(f"{n}:{t}" for n, t in key_cols),
                    ",".join(f"{n}:{t}" for n, t in val_cols),
                )
            )
    return spark.createDataFrame(
        rows, "db string, tbl string, key_cols string, value_cols string"
    )


@q(
    "adj_factor_audit",
    f"""
    WITH f AS ({_ORACLE_FACTORS})
    SELECT sec, COUNT(*)::BIGINT AS n_factors,
           POW(2.0, SUM(LOG2(px))) AS px_total,
           POW(2.0, SUM(LOG2(vol))) AS vol_total
    FROM f GROUP BY sec
    """,
)
def adj_factor_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action audit over the _adj_ table (through the engine's
    own storage): per sec, the number of factor events and the TOTAL
    cumulative px/vol adjustment a full-history replay applies. Dyadic
    factors make pow(2, sum(log2(f))) bit-exact on both engines — no
    rounding anywhere. One scan of the (tiny, broadcast-class) factor
    table + one hash agg."""
    eng = tick_engine(spark, sf_dir)
    adj = eng.execute("select sec, time, px, vol from _adj_")
    return adj.groupBy("sec").agg(
        F.count(F.lit(1)).cast("long").alias("n_factors"),
        F.pow(F.lit(2.0), F.sum(F.log2("px"))).alias("px_total"),
        F.pow(F.lit(2.0), F.sum(F.log2("vol"))).alias("vol_total"),
    )


@q(
    "vwap_slippage",
    """
    WITH t AS (
      SELECT user_id AS sec, time_bucket(INTERVAL '1 hour', ts) AS h,
             value AS px, value AS vol
      FROM events
    ),
    v AS (
      SELECT sec, h, SUM(px * vol) / SUM(vol) AS vwap
      FROM t GROUP BY 1, 2
    )
    SELECT t.sec, COUNT(*)::BIGINT AS n_trades,
           ROUND(AVG(ABS(t.px - v.vwap) / v.vwap), 6) AS mean_slip,
           ROUND(MAX(ABS(t.px - v.vwap) / v.vwap), 6) AS max_slip
    FROM t JOIN v USING (sec, h)
    WHERE t.sec < 50
    GROUP BY t.sec
    """,
)
def vwap_slippage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution-quality metric: each trade's relative deviation from
    its (sec, hour) VWAP, aggregated per sec. The VWAP table is
    (secs×hours)-sized and joins back on the keys the trades already
    grouped by — the aggregate exchange is reused, no second data
    shuffle."""
    ev = load(spark, sf_dir, "events")
    hour_ns = 3600 * 10**9
    t = ev.select(
        F.col("user_id").alias("sec"),
        F.expr(f"ts - pmod(ts, {hour_ns})").alias("h"),
        F.col("value").alias("px"),
        F.col("value").alias("vol"),
    ).filter(F.col("sec") < 50)
    v = t.groupBy("sec", "h").agg(
        (F.sum(F.col("px") * F.col("vol")) / F.sum("vol")).alias("vwap")
    )
    slip = F.abs(F.col("px") - F.col("vwap")) / F.col("vwap")
    return (
        t.join(v, ["sec", "h"])
        .groupBy("sec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.round(F.avg(slip), 6).alias("mean_slip"),
            F.round(F.max(slip), 6).alias("max_slip"),
        )
    )
