"""Structured-Streaming corpus shard tail (stream_corpus_ingest):
the streaming twin of the batch shard readers. The contract under test
is the one the registry entries streaming_arrow_ingest /
streaming_zst_ingest / streaming_ivf_append rely on — batch and
streamed ingests of one corpus are value-identical, corrupt lines
quarantine with shard provenance instead of killing the ingest, and a
replayed micro-batch is EXACTLY-ONCE under the same stream identity
(applied markers atomic with each commit; a fresh checkpoint falls
back to latest-wins resolution). Reference anchor: the insert-firehose
semantics of client.py:44-61 / server.go:356-383, extended to
shard-directory tailing."""

import os

import pyarrow as pa
import pytest

from opentick_spark.sources import (
    decode_arrow_ipc_content,
    decode_jsonl_compressed_content,
    read_jsonl_compressed,
    split_corrupt,
)
from opentick_spark.streaming.ingest import stream_corpus_ingest


def _write_zst_shard(path: str, lines: list[str]) -> None:
    sink = pa.BufferOutputStream()
    with pa.output_stream(sink, compression="zstd") as s:
        for line in lines:
            s.write((line + "\n").encode())
    with open(path, "wb") as f:
        f.write(sink.getvalue().to_pybytes())


def _write_ipc_shard(path: str, ids: list[int], vals: list[float]) -> None:
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "score": pa.array(vals, pa.float64()),
        }
    )
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_file(f, tbl.schema) as w:
            w.write_table(tbl)


def _make_store(engine, ddl: str, name: str = "docs"):
    engine.execute("create database sc")
    engine.use("sc")
    engine.execute(ddl)
    return engine.store("sc", name)


_ZST_SCHEMA = "doc_id long, lang string, n_chars long"


def _zst_decode(files):
    return decode_jsonl_compressed_content(
        files, _ZST_SCHEMA, path_col="_source_path"
    )


def test_zst_tail_quarantine_and_batch_equality(spark, engine, tmp_path):
    """Corrupt lines divert to a batch-id-keyed quarantine that names
    the shard they came from; good rows match the batch reader's good
    split exactly."""
    src = tmp_path / "src"
    src.mkdir()
    _write_zst_shard(
        str(src / "shard-0.jsonl.zst"),
        [
            '{"doc_id": 1, "lang": "en", "n_chars": 10}',
            '{"doc_id": 2, "lang": "de", "n_chars": 20}',
        ],
    )
    _write_zst_shard(
        str(src / "shard-1.jsonl.zst"),
        [
            '{"doc_id": 3, "lang": "fr", "n_chars": 30}',
            '{"doc_id": 4, "lang":',  # truncated — corrupt
            '{"doc_id": 5, "lang": "en", "n_chars": 50}',
        ],
    )
    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )
    quarantine = str(tmp_path / "quarantine")
    q = stream_corpus_ingest(
        spark,
        str(src),
        _zst_decode,
        store,
        str(tmp_path / "ckpt"),
        quarantine_dir=quarantine,
        max_files_per_trigger=1,  # one shard per micro-batch
    )
    q.awaitTermination()

    # stream == batch: the batch reader's good split over the same shards
    batch_good, _ = split_corrupt(
        read_jsonl_compressed(spark, str(src), _ZST_SCHEMA)
    )
    got = sorted(
        (r.doc_id, r.lang, r.n_chars)
        for r in store.read(spark).select("doc_id", "lang", "n_chars").collect()
    )
    want = sorted(
        (r.doc_id, r.lang, r.n_chars) for r in batch_good.collect()
    )
    assert got == want == [
        (1, "en", 10),
        (2, "de", 20),
        (3, "fr", 30),
        (5, "en", 50),
    ]

    # quarantine: exactly the corrupt line, attributed to shard-1
    qrows = spark.read.parquet(f"{quarantine}/batch=*").collect()
    assert len(qrows) == 1
    assert qrows[0].raw_line == '{"doc_id": 4, "lang":'
    assert qrows[0].source_path.endswith("shard-1.jsonl.zst")


def test_zst_tail_replay_idempotent_and_incremental(spark, engine, tmp_path):
    """(a) A replay after a lost checkpoint (crash between sink and
    checkpoint) re-upserts the same PK rows and overwrites its own
    quarantine dirs — final table + quarantine state identical
    (single-writer contract). (b) With the checkpoint intact, a new
    shard landing later is the ONLY thing the next run processes."""
    src = tmp_path / "src"
    src.mkdir()
    _write_zst_shard(
        str(src / "shard-0.jsonl.zst"),
        [
            '{"doc_id": 1, "lang": "en", "n_chars": 10}',
            'not json at all',  # corrupt
        ],
    )
    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )
    quarantine = str(tmp_path / "quarantine")

    def run(ckpt: str) -> None:
        q = stream_corpus_ingest(
            spark,
            str(src),
            _zst_decode,
            store,
            ckpt,
            quarantine_dir=quarantine,
            max_files_per_trigger=1,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt_a"))
    seq_after_first = store.current_seq()
    snap = lambda: sorted(  # noqa: E731
        (r.doc_id, r.lang, r.n_chars)
        for r in store.read(spark).select("doc_id", "lang", "n_chars").collect()
    )
    state1 = snap()
    quar1 = sorted(
        (r.raw_line, os.path.basename(r.source_path))
        for r in spark.read.parquet(f"{quarantine}/batch=*").collect()
    )

    # (a) replay: fresh checkpoint = every batch re-delivered
    run(str(tmp_path / "ckpt_b"))
    assert store.current_seq() > seq_after_first  # replay DID re-commit
    assert snap() == state1  # ...and latest-wins resolved it away
    quar2 = sorted(
        (r.raw_line, os.path.basename(r.source_path))
        for r in spark.read.parquet(f"{quarantine}/batch=*").collect()
    )
    assert quar2 == quar1 == [("not json at all", "shard-0.jsonl.zst")]

    # (b) incremental: same checkpoint, one new shard → only it lands
    _write_zst_shard(
        str(src / "shard-1.jsonl.zst"),
        ['{"doc_id": 2, "lang": "de", "n_chars": 20}'],
    )
    run(str(tmp_path / "ckpt_b"))
    assert snap() == state1 + [(2, "de", 20)]


def test_arrow_tail_multi_batch_equality(spark, engine, tmp_path):
    """Arrow IPC shard tail: multiple micro-batches of Feather-v2
    shards land as atomic upsert commits; the final table equals the
    union of the shards, and a PK collision across shards resolves
    latest-wins (the later micro-batch's row survives)."""
    src = tmp_path / "src"
    src.mkdir()
    import time

    _write_ipc_shard(str(src / "s0.arrow"), [1, 2], [1.0, 2.0])
    _write_ipc_shard(str(src / "s1.arrow"), [3, 4], [3.0, 4.0])
    _write_ipc_shard(str(src / "s2.arrow"), [2, 5], [20.0, 5.0])  # 2 collides
    # distinct mtimes: the file source orders micro-batches by mtime, so
    # the colliding shard is delivered LAST and latest-wins is observable
    now = time.time()
    for i, f in enumerate(["s0.arrow", "s1.arrow", "s2.arrow"]):
        os.utime(str(src / f), (now - 30 + i * 10, now - 30 + i * 10))
    store = _make_store(
        engine,
        "create table d(doc_id bigint, score double, primary key(doc_id))",
        name="d",
    )
    q = stream_corpus_ingest(
        spark,
        str(src),
        lambda files: decode_arrow_ipc_content(
            files, "doc_id long, score double"
        ),
        store,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    got = sorted(
        (r.doc_id, r.score) for r in store.read(spark).collect()
    )
    assert got == [(1, 1.0), (2, 20.0), (3, 3.0), (4, 4.0), (5, 5.0)]


def test_decoder_path_col_provenance(spark, tmp_path):
    """path_col plumbs shard provenance through BOTH decoders (batch
    frames — the same mapInPandas runs on streaming frames)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_ipc_shard(str(src / "a.arrow"), [1], [1.0])
    _write_ipc_shard(str(src / "b.arrow"), [2], [2.0])
    files = spark.read.format("binaryFile").load(str(src))
    out = decode_arrow_ipc_content(
        files, "doc_id long, score double", path_col="_source_path"
    ).collect()
    by_id = {r.doc_id: r._source_path for r in out}
    assert by_id[1].endswith("a.arrow") and by_id[2].endswith("b.arrow")

    _write_zst_shard(
        str(src / "c.jsonl.zst"), ['{"doc_id": 9, "lang": "en", "n_chars": 1}']
    )
    jf = spark.read.format("binaryFile").load(str(src / "c.jsonl.zst"))
    jrows = decode_jsonl_compressed_content(
        jf, _ZST_SCHEMA, path_col="_source_path"
    ).collect()
    assert len(jrows) == 1 and jrows[0]._source_path.endswith("c.jsonl.zst")


def test_zst_tail_failfast_without_quarantine(spark, engine, tmp_path):
    """bad_record_col=None in the decoder = FAILFAST: a corrupt line
    kills the stream instead of silently dropping (the posture a caller
    gets if they opt out of the quarantine contract)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_zst_shard(str(src / "s.jsonl.zst"), ["garbage"])
    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )
    q = stream_corpus_ingest(
        spark,
        str(src),
        lambda files: decode_jsonl_compressed_content(
            files, _ZST_SCHEMA, bad_record_col=None
        ),
        store,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast|json"):
        q.awaitTermination()


def test_applied_marker_exactly_once(spark, engine, tmp_path):
    """TableStore applied-marker contract (r10): the marker is atomic
    with its commit (sidecar in the commit dir), discoverable without
    the meta cache, and survives compaction via the intent fold."""
    import json

    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )
    df = spark.createDataFrame(
        [(1, "en", 5)], "doc_id long, lang string, n_chars long"
    )
    assert not store.has_applied_marker("s:0")
    store.append_dataframe(df, applied_marker="s:0")
    assert store.has_applied_marker("s:0")
    assert not store.has_applied_marker("s:1")

    # crash window: meta cache lost between publish and cache write ->
    # the commit-dir sidecar still answers
    meta = store._meta()
    meta.pop("applied_markers", None)
    store._write_meta(meta)
    assert store.has_applied_marker("s:0")

    # file commits (append_columns) carry markers in the parquet footer
    # — same contract, discoverable without the meta cache
    store.append_columns({"doc_id": [2], "lang": ["de"], "n_chars": [6]},
                         applied_marker="s:f1")
    meta = store._meta()
    meta.pop("applied_markers", None)
    store._write_meta(meta)
    store._marker_dir_cache.clear()
    assert store.has_applied_marker("s:f1")

    # compaction GCs the log commit dirs; the intent folds the markers
    # into meta so the answer survives
    store.compact(spark)
    assert store._log_markers() == set()
    assert store.has_applied_marker("s:0")
    assert store.has_applied_marker("s:f1")
    assert not store.has_applied_marker("s:1")


def test_stream_replay_skips_applied_batches(spark, engine, tmp_path):
    """The r9 ADVICE hazard, closed: a batch re-delivered under the
    SAME stream identity is skipped entirely (zero new commits), so a
    concurrent writer's update between the original run and the replay
    SURVIVES — previously the replay re-appended under a new seq and
    latest-wins regressed the row. (The pinned stream_id + fresh
    checkpoint shape is valid here because the landing dir is
    append-only and single-shard — the deterministic-re-listing
    precondition the docstrings require.)"""
    src = tmp_path / "src"
    src.mkdir()
    _write_zst_shard(
        str(src / "shard-0.jsonl.zst"),
        ['{"doc_id": 1, "lang": "en", "n_chars": 10}'],
    )
    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )

    def run(ckpt: str) -> None:
        q = stream_corpus_ingest(
            spark,
            str(src),
            _zst_decode,
            store,
            ckpt,
            stream_id="fixed-stream",
            max_files_per_trigger=1,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt_a"))
    seq1 = store.current_seq()
    assert [
        (r.doc_id, r.n_chars) for r in store.read(spark).collect()
    ] == [(1, 10)]

    # a CONCURRENT writer updates the row after the stream committed
    store.append_dataframe(
        spark.createDataFrame(
            [(1, "en", 999)], "doc_id long, lang string, n_chars long"
        )
    )

    # replay: fresh checkpoint re-delivers batch 0 under the same
    # stream identity -> marker-skipped, NO new commit
    run(str(tmp_path / "ckpt_b"))
    assert store.current_seq() == seq1 + 1  # only the writer's commit
    assert [
        (r.doc_id, r.n_chars) for r in store.read(spark).collect()
    ] == [(1, 999)]  # the concurrent update SURVIVED the replay


def test_stream_ivf_append_replay_guard(spark, tmp_path):
    """stream_ivf_append: shard tail grows a persisted IVF index across
    micro-batches; a re-delivered batch (same stream identity, fresh
    checkpoint) is marker-skipped so the lists hold NO duplicate
    vectors; incremental tail picks up only new shards. (Pinning
    stream_id across checkpoints is valid here only because the
    landing dir is append-only with stable mtimes — the deterministic
    re-listing precondition the docstring requires.)"""
    from pyspark.sql import functions as F

    from opentick_spark.operators.similarity import build_ivf_index
    from opentick_spark.streaming.ingest import stream_ivf_append

    # 16-dim basis corpus: ids 0..31, vector e_{id % 16}
    corpus = spark.range(32).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), a -> CAST(CASE WHEN a = id % 16 "
        "THEN 1.0 ELSE 0.0 END AS FLOAT)) AS embedding",
    )
    index = str(tmp_path / "ivf")
    build_ivf_index(corpus.filter(F.col("vec_id") < 16), index)
    land = str(tmp_path / "land")
    corpus.filter(F.col("vec_id") >= 16).repartition(2).write.parquet(land)

    schema = "vec_id long, embedding array<float>"

    def run(ckpt: str) -> None:
        q = stream_ivf_append(
            spark, land, schema, index, ckpt,
            max_files_per_trigger=1, stream_id="ivf-stream",
        )
        q.awaitTermination()

    run(str(tmp_path / "ck_a"))
    lists = spark.read.parquet(f"{index}/lists")
    assert lists.count() == 32  # 16 seeded + 16 appended
    assert lists.select("neighbor_id").distinct().count() == 32

    # replay with fresh checkpoint, same stream identity: skipped
    run(str(tmp_path / "ck_b"))
    assert spark.read.parquet(f"{index}/lists").count() == 32

    # incremental: a new shard lands; same checkpoint processes ONLY it
    spark.range(32, 40).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), a -> CAST(CASE WHEN a = id % 16 "
        "THEN 1.0 ELSE 0.0 END AS FLOAT)) AS embedding",
    ).coalesce(1).write.mode("append").parquet(land)
    run(str(tmp_path / "ck_b"))
    got = spark.read.parquet(f"{index}/lists")
    assert got.count() == 40
    assert got.select("neighbor_id").distinct().count() == 40


def test_concurrent_same_marker_single_commit(spark, engine):
    """The duplicate check and the publish are one critical section
    (r10 high-review fix): two deliveries of the SAME marker racing
    through append_columns produce exactly ONE published commit — the
    loser abandons its staged file (its allocated seq is a harmless
    gap) and the winner's rows are the table state."""
    import threading

    store = _make_store(
        engine,
        "create table docs(doc_id bigint, lang text, n_chars bigint, "
        "primary key(doc_id))",
    )
    barrier = threading.Barrier(2)
    applied = []

    def deliver(v: int) -> None:
        barrier.wait()
        n = store.append_columns(
            {"doc_id": [1], "lang": ["en"], "n_chars": [v]},
            applied_marker="race:0",
        )
        applied.append((v, n))

    ts = [threading.Thread(target=deliver, args=(v,)) for v in (10, 20)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    # exactly one delivery applied (n=1), the other was deduped (n=0)
    assert sorted(n for _, n in applied) == [0, 1], applied
    commits = [e for e in os.listdir(store.log_path) if e.startswith("commit-")]
    assert len(commits) == 1, commits
    rows = store.read(spark).collect()
    winner = next(v for v, n in applied if n == 1)
    assert [(r.doc_id, r.n_chars) for r in rows] == [(1, winner)]
    assert store.has_applied_marker("race:0")
