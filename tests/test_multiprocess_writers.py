"""Multi-process writer stress (S8 atomicity across PROCESSES): N real
OS processes batch-committing into one table concurrently. The flock
(`TableStore._file_lock`) serializes commit-seq allocation the way FDB
transactions do for the reference; this asserts the end-to-end contract:

- no lost or double-allocated commits (contiguous seq 1..N, one
  published commit file per seq, meta.seq == N),
- latest-wins resolution: the engine's read equals a model computed
  independently from the raw commit log (max (__seq, __sub) per PK,
  tombstones drop the key).
"""

import contextlib
import glob
import os
import pathlib
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from opentick_spark.table import fcntl

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_WORKERS = 4
N_BATCHES = 8
N_KEYS = 25


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
def test_concurrent_process_writers_no_lost_commits(spark, tmp_path):
    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database mp")
    eng.use("mp")
    eng.execute("create table t(a int, v int, primary key(a))")

    # stderr goes to FILES, never an undrained pipe: a subprocess JVM
    # whose stderr pipe fills BLOCKS inside log4j while holding the
    # TaskSchedulerImpl lock — a whole-JVM scheduler deadlock (the r7
    # reader-race wedge, diagnosed by jstack). Files also keep the
    # transcripts for post-mortems.
    errs = [str(tmp_path / f"writer{w}.err") for w in range(N_WORKERS)]
    # ExitStack closes every stderr handle after communicate() (r8
    # ADVICE: bare open()s leaked fds until GC under -W error)
    with contextlib.ExitStack() as stack:
        procs = [
            subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(REPO, "tests", "_mp_writer.py"),
                    wh,
                    "mp",
                    "t",
                    str(w),
                    str(N_BATCHES),
                    str(N_KEYS),
                ],
                stdout=subprocess.PIPE,
                stderr=stack.enter_context(open(errs[w], "w")),
                text=True,
            )
            for w in range(N_WORKERS)
        ]
        for w, p in enumerate(procs):
            out, _ = p.communicate(timeout=120)
            assert p.returncode == 0, (
                pathlib.Path(errs[w]).read_text()[-2000:]
            )
            assert "WORKER_DONE" in out

    store = eng.store("mp", "t")
    # 1. commit-log integrity: one commit per allocated seq, contiguous
    files = sorted(glob.glob(os.path.join(store.log_path, "commit-*.parquet")))
    seqs = [int(os.path.basename(f)[7:19]) for f in files]
    assert store.current_seq() == N_WORKERS * N_BATCHES
    assert seqs == list(range(1, N_WORKERS * N_BATCHES + 1))

    # 2. latest-wins truth computed INDEPENDENTLY from the raw log
    import pandas as pd

    raw = pd.concat([pq.read_table(f).to_pandas() for f in files])
    raw = raw.sort_values(["__seq", "__sub"], kind="stable")
    last = raw.groupby("a", as_index=False).last()
    expected = {
        int(r["a"]): int(r["v"])
        for _, r in last.iterrows()
        if not r["__del"]
    }

    got = {a: v for a, v in eng.execute_rows("select * from t")}
    assert got == expected
    assert 0 < len(got) <= N_KEYS


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
def test_held_store_sees_other_process_commits(spark, tmp_path):
    """A store held across another process's commits must not serve its
    cached read plan: the commits change the log listing in the snapshot
    key, so the next read re-plans and returns the new rows."""
    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database mph")
    eng.use("mph")
    eng.execute("create table t(a int, v int, primary key(a))")
    store = eng.store("mph", "t")
    store.append_columns({"a": list(range(5)), "v": list(range(5))})
    held = store.read(spark)
    assert store.read(spark) is held
    assert sorted(map(tuple, held.collect())) == [(k, k) for k in range(5)]
    err = str(tmp_path / "writer.err")
    with open(err, "w") as ef:
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "tests", "_mp_writer.py"),
                wh, "mph", "t", "1", "3", "4", "100",
            ],
            stdout=subprocess.PIPE, stderr=ef, text=True, timeout=120,
        )
    assert out.returncode == 0, pathlib.Path(err).read_text()[-2000:]
    fresh = store.read(spark)
    assert fresh is not held
    # worker 1's last batch (b=2) wins: v = 1_000_000 + 2_000 + k
    want = [(k, k) for k in range(5)] + [
        (100 + k, 1_002_000 + k) for k in range(4)
    ]
    assert sorted(map(tuple, fresh.collect())) == want
    assert eng.execute_rows("select * from t") == want


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
def test_concurrent_writers_with_compaction(spark, tmp_path):
    """Writers in other processes racing COMPACTION in this one: the
    flock serializes the log swap against seq allocation, so no commit
    may ever be lost between a compaction's snapshot read and its log
    deletion. Disjoint key spaces per worker make the final state
    deterministic regardless of interleaving: each worker's batches are
    ordered by its own execution, so last-write-wins resolves within the
    worker alone."""
    import time as _t

    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database mpc")
    eng.use("mpc")
    eng.execute("create table t(a int, v int, primary key(a))")
    store = eng.store("mpc", "t")

    n_batches, n_keys = 10, 25
    # stderr to files — see the pipe-deadlock note in the first test
    errs = [str(tmp_path / f"cwriter{w}.err") for w in range(4)]
    with contextlib.ExitStack() as stack:
        procs = [
            subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(REPO, "tests", "_mp_writer.py"),
                    wh,
                    "mpc",
                    "t",
                    str(w),
                    str(n_batches),
                    str(n_keys),
                    str(w * 1000),  # disjoint key base
                ],
                stdout=subprocess.PIPE,
                stderr=stack.enter_context(open(errs[w], "w")),
                text=True,
            )
            for w in range(4)
        ]
        n_compactions = 0
        while any(p.poll() is None for p in procs):
            store.compact(spark, hash_buckets=4)
            n_compactions += 1
            _t.sleep(0.1)
        for w, p in enumerate(procs):
            out, _ = p.communicate(timeout=60)
            assert p.returncode == 0, (
                pathlib.Path(errs[w]).read_text()[-2000:]
            )
    assert n_compactions >= 1
    store.compact(spark)  # final collapse: read must be base-only

    # deterministic expectation: batches 0-8 write (except b=4 tombstone),
    # b=9 tombstones keys ≡ w%7 (mod 7); survivors carry the b=8 value
    expected = {}
    for w in range(4):
        killed = set(range(w % 7, n_keys, 7))
        for k in range(n_keys):
            if k not in killed:
                expected[w * 1000 + k] = w * 1_000_000 + 8_000 + k
    got = dict(eng.execute_rows("select * from t"))
    assert got == expected


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
@pytest.mark.parametrize("hash_buckets", [None, 4], ids=["flat", "bucketed"])
def test_cross_process_reader_during_compaction(spark, tmp_path, hash_buckets):
    """r6 (VERDICT item 6): a reader in a DIFFERENT process loops full
    reads while this process appends + compacts repeatedly. The
    documented contract (VACUUM-style transient, commit 1338e62): a
    successful read is ALWAYS a consistent pre- or post-compaction
    snapshot — every key present, all values from one generation; a
    read racing the swap may fail transiently (and retry), but must
    never succeed on the missing-base window with dropped or mixed
    rows. The reader holds its store handle across swaps — re-opening
    per read would serialize on the compactor's flock and hide the
    race. This test CAUGHT a real bug on its first full-suite run: the
    base-before-log listing order allowed a silent zero-row read
    racing the first compaction (fixed in _raw, r6). Runs against both
    flat and hash-bucketed bases — the bucketed swap replaces a
    partitioned directory tree and the reader's bucket-column handling
    must stay consistent mid-swap."""
    import time

    from opentick_spark.catalog import Catalog
    from opentick_spark.engine import Engine
    from opentick_spark.table import TableStore

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database rc")
    eng.use("rc")
    eng.execute("create table t(a int, v int, primary key(a))")
    n_keys = 50
    store = TableStore(Catalog(wh), "rc", "t")
    # generation 0 in place before the reader starts
    store.append_columns({"a": list(range(n_keys)), "v": [0] * n_keys})

    stop_file = str(tmp_path / "stop")
    reader_err = open(str(tmp_path / "reader.err"), "w")
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "tests", "_compact_reader.py"),
            wh,
            "rc",
            "t",
            str(n_keys),
            stop_file,
        ],
        stdout=subprocess.PIPE,
        # stderr MUST go to a file, never an undrained pipe: Spark's
        # FILE_NOT_EXIST task-failure warnings (multi-KB stack traces,
        # emitted on exactly the transient reads this test provokes)
        # fill a 64 KB pipe within a few attempts, log4j then BLOCKS
        # mid-write while the logging thread holds the
        # TaskSchedulerImpl lock, and the reader JVM's entire scheduler
        # deadlocks — tasks never run, cancels never process — until
        # communicate() finally drains the pipe at shutdown. This was
        # THE r6/r7 "liveness floor" wedge (jstack-proven: DAG event
        # loop BLOCKED on TaskSchedulerImpl held by a logWarning inside
        # an AbstractOutputStreamAppender write).
        stderr=reader_err,
        text=True,
    )
    try:
        # wait for the reader's session to boot before racing it
        for line in proc.stdout:
            if "READER_READY" in line:
                break
        # each generation: ONE atomic overwrite of every key, then a
        # compaction (rename swap + old-base trash + log GC). Keep
        # generating until the reader has demonstrably read between
        # swaps (progress file), so a contended box can't under-run the
        # race; hard caps bound the loop either way.
        progress = stop_file + ".progress"

        def attempts_so_far() -> tuple[int, int]:
            try:
                with open(progress) as f:
                    parts = f.read().split()
                return int(parts[0]), int(parts[1]) if len(parts) > 1 else 0
            except (OSError, ValueError, IndexError):
                return 0, 0

        # pressure phase: 10 back-to-back swaps while reads fly —
        # maximizes scans that straddle a swap (the race under test)
        for g in range(1, 11):
            store.append_columns({"a": list(range(n_keys)), "v": [g] * n_keys})
            store.compact(spark, hash_buckets=hash_buckets)
            time.sleep(0.5)
        # quiescent phase (r7, twice-diagnosed under load): signal the
        # reader that swaps are OVER — from here every attempt is
        # healthy, so the reader disables its pressure-phase watchdog
        # and lets the attempt run to completion however slow the box
        # is (measured: a 50-row read took 150 s under four concurrent
        # Spark JVMs; the earlier 45 s cap was cancelling reads that
        # would have succeeded — the exact liveness-floor failure it
        # was meant to prevent). The parent then waits for ONE clean
        # read with a generous cap, using the reader's 5 s heartbeat
        # (progress-file mtime) to distinguish slow-but-alive from
        # wedged.
        with open(stop_file + ".quiesce", "w") as f:
            f.write("quiesce")
        t0 = time.time()
        dumped = False
        while time.time() - t0 < 600:
            ns, _nt = attempts_so_far()
            if ns >= 1:
                break
            try:
                hb_age = time.time() - os.path.getmtime(progress)
            except OSError:
                hb_age = 0.0
            if hb_age > 60 and proc.poll() is None:
                break  # heartbeat dead: reader wedged — fail below
            if time.time() - t0 > 300 and not dumped:
                # post-mortem gold: thread-dump the reader's JVM while
                # it is actually wedged (a transcript can only say WHAT
                # failed; the jstack says WHERE it was stuck)
                dumped = True
                try:
                    kids = subprocess.run(
                        ["pgrep", "-P", str(proc.pid)],
                        capture_output=True, text=True, timeout=10,
                    ).stdout.split()
                    jstack = os.path.join(
                        os.environ.get("JAVA_HOME", "/usr"), "bin", "jstack"
                    )
                    for k in kids:
                        with open(f"/tmp/race_jstack_{k}.txt", "w") as jf:
                            subprocess.run(
                                [jstack, k], stdout=jf,
                                stderr=subprocess.DEVNULL, timeout=60,
                            )
                except Exception:
                    pass
            time.sleep(0.2)
    finally:
        with open(stop_file, "w") as f:
            f.write("stop")
        out, _ = proc.communicate(timeout=300)
        reader_err.close()
        try:
            err = pathlib.Path(tmp_path / "reader.err").read_text()
        except OSError:
            err = ""
        # self-diagnosing failures: a suite-level run only keeps the
        # one-line summary, so persist the full reader transcript +
        # parent timeline where a post-mortem can read it
        import datetime

        diag = (
            f"/tmp/race_debug_{'bucketed' if hash_buckets else 'flat'}.txt"
        )
        try:
            with open(diag, "w") as f:
                f.write(
                    f"when={datetime.datetime.now().isoformat()}\n"
                    f"returncode={proc.returncode}\n"
                    f"--- reader stdout ---\n{out[-8000:]}\n"
                    f"--- reader stderr (tail) ---\n{err[-8000:]}\n"
                )
        except OSError:
            pass
    assert proc.returncode == 0, (diag, out[-2000:], err[-2000:])
    assert "READER_OK" in out, (diag, out[-2000:])
    stats = [ln for ln in out.splitlines() if ln.startswith("READS ")][0]
    n_success, n_transient = map(int, stats.split()[1:])
    # the race must actually have been exercised: at least one
    # cross-process read completed between swaps. The CONSISTENCY
    # assertions above are the contract (any torn/empty/mixed read
    # exits the reader with READER_VIOLATION and fails returncode);
    # the floor only guards against a reader that never got through —
    # per-attempt cost is bounded by the reader's job-group watchdog
    # (tests/_compact_reader.py), so the drain fits many attempts
    last = [ln for ln in out.splitlines() if ln.startswith("LAST_")]
    assert n_success >= 1, (n_success, n_transient, last, diag)


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
def test_concurrent_process_mergers_atomic_commits(spark, tmp_path):
    """r9 (VERDICT item 3): two real OS processes run MERGE INTO with
    OVERLAPPING PK ranges (worker0 keys 0-29, worker1 keys 10-39)
    against one table while THIS process loops reads. The contract
    under test mirrors the reference's one-transaction batch
    (query.go:294-307): each merge publishes as ONE commit — its
    updates, deletes and inserts become visible together — so

    (a) every upsert-merge commit in the raw log contains the merger's
        COMPLETE key range (a partial keyset in the log IS a
        half-merge),
    (b) every successful concurrent read resolves to latest-wins over
        some set of WHOLE commits — validated per snapshot via the
        producer-attribution argument below, which flags any commit
        that a read saw partially,
    (c) the final engine read equals an independent latest-wins replay
        of the raw commit log.

    Matched-ness itself is deliberately NOT serialized across processes
    (merge_into is read-then-append, like lakehouse MERGE without
    conflict retry; the flock serializes only seq allocation) — the
    drill asserts atomic VISIBILITY, which is what the one-txn contract
    promises a reader. Values encode provenance (v = w*1e6 + g*1e3 + a,
    m = w*100 + g) so every surviving row attributes to exactly one
    commit."""
    import time as _t

    import pandas as pd

    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database mg")
    eng.use("mg")
    eng.execute("create table t(a int, v int, m int, primary key(a))")
    store = eng.store("mg", "t")
    # seed generation (tag m=-1) so the first DELETE merges have matches
    store.append_columns(
        {"a": list(range(40)), "v": [0] * 40, "m": [-1] * 40}
    )

    n_merges, n_keys = 6, 30
    bases = {0: 0, 1: 10}
    errs = [str(tmp_path / f"merger{w}.err") for w in range(2)]
    snapshots: list[dict[int, tuple[int, int]]] = []
    with contextlib.ExitStack() as stack:
        procs = [
            subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(REPO, "tests", "_mp_merger.py"),
                    wh,
                    "mg",
                    "t",
                    str(w),
                    str(n_merges),
                    str(bases[w]),
                    str(n_keys),
                ],
                stdout=subprocess.PIPE,
                stderr=stack.enter_context(open(errs[w], "w")),
                text=True,
            )
            for w in range(2)
        ]
        while any(p.poll() is None for p in procs):
            rows = eng.execute_rows("select * from t")
            snapshots.append({a: (v, m) for a, v, m in rows})
            _t.sleep(0.3)
        for w, p in enumerate(procs):
            out, _ = p.communicate(timeout=420)
            assert p.returncode == 0, (
                pathlib.Path(errs[w]).read_text()[-2000:]
            )
            assert f"MERGER_DONE {w}" in out

    # ---- parse the raw commit log ------------------------------------
    files = sorted(glob.glob(os.path.join(store.log_path, "commit-*")))
    seqs = [int(os.path.basename(f)[7:19]) for f in files]
    n_commits = 1 + 2 * n_merges
    assert store.current_seq() == n_commits
    assert seqs == list(range(1, n_commits + 1)), seqs

    commits = []  # (seq, kind, keys, tag, {a: (v, m)})
    for f, seq in zip(files, seqs):
        pdf = pq.read_table(f).to_pandas()
        if len(pdf) == 0:
            continue  # a DELETE merge that matched nothing — still a seq
        dels = set(pdf["__del"].tolist())
        assert len(dels) == 1, f"mixed commit in this drill: seq {seq}"
        if dels == {True}:
            commits.append((seq, "delete", set(pdf["a"]), None, {}))
        else:
            tags = set(pdf["m"].tolist())
            assert len(tags) == 1, f"multi-tag upsert commit: seq {seq}"
            tag = tags.pop()
            content = {
                int(r["a"]): (int(r["v"]), int(r["m"]))
                for _, r in pdf.iterrows()
            }
            commits.append((seq, "upsert", set(content), tag, content))

    # ---- (a) half-merge check on the log itself ----------------------
    for seq, kind, keys, tag, _c in commits:
        if kind == "upsert" and tag >= 0:
            w = tag // 100
            expect = set(range(bases[w], bases[w] + n_keys))
            assert keys == expect, (
                f"seq {seq} (tag {tag}) published {len(keys)}/{n_keys} keys"
            )
        elif kind == "delete" and keys:
            mods = {a % 3 for a in keys}
            assert len(mods) == 1, f"delete commit {seq} spans workers"

    # ---- (b) every live snapshot = whole-commit resolution -----------
    by_tag = {c[3]: c for c in commits if c[1] == "upsert"}
    by_seq = {c[0]: c for c in commits}
    for snap in snapshots:
        visible: set[int] = set()  # seqs of commits proven visible
        invisible: set[int] = set()  # seqs of commits proven NOT visible
        for a, (v, m) in snap.items():
            assert m in by_tag, f"snapshot value with unknown tag {m}"
            seq_p, _k, keys_p, _t_, content = by_tag[m]
            assert a in keys_p and content[a] == (v, m), (
                f"snapshot row {a}->{(v, m)} not in its producer commit"
            )
            visible.add(seq_p)
            # any commit newer than the producer touching `a` would have
            # overridden it — all such commits must be invisible
            for seq_o, _ko, keys_o, _to, _co in commits:
                if seq_o > seq_p and a in keys_o:
                    invisible.add(seq_o)
        torn = visible & invisible
        assert not torn, (
            f"TORN READ: commits {sorted(torn)} seen partially: "
            f"{ {a: snap[a] for a in sorted(snap)} }"
        )
        # absent keys of a visible upsert commit need a visible-newer
        # tombstone candidate that is not itself proven invisible
        for seq_c in visible:
            _s, _k, keys_c, _t2, _c2 = by_seq[seq_c]
            for a in keys_c:
                if a in snap:
                    continue
                cands = [
                    s
                    for s, k2, keys2, _t3, _c3 in commits
                    if k2 == "delete" and a in keys2 and s > seq_c
                    and s not in invisible
                ]
                assert cands, (
                    f"HALF-MERGE: commit seq {seq_c} visible but key {a} "
                    "missing with no tombstone to explain it"
                )

    # ---- (c) final state == independent latest-wins replay -----------
    raw = pd.concat([pq.read_table(f).to_pandas() for f in files])
    raw = raw.sort_values(["__seq", "__sub"], kind="stable")
    last = raw.groupby("a", as_index=False).last()
    expected = {
        int(r["a"]): (int(r["v"]), int(r["m"]))
        for _, r in last.iterrows()
        if not r["__del"]
    }
    got = {a: (v, m) for a, v, m in eng.execute_rows("select * from t")}
    assert got == expected
    # the drill must actually have raced: both workers' merges landed
    # and the parent read at least a few mid-run snapshots
    assert len(snapshots) >= 3


def test_missing_file_reads_fail_loudly_not_silently(spark):
    """The VACUUM-style isolation contract depends on
    ``spark.sql.files.ignoreMissingFiles`` staying FALSE: a reader whose
    plan references compaction-removed files must get a retryable ERROR,
    never a silently smaller result (that is exactly the missing-data
    window the contract forbids). Pin both the session default and the
    observable behavior."""
    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
    )
    import glob as _glob
    import tempfile

    d = tempfile.mkdtemp(prefix="otspark_fnf_")
    spark.range(100).write.parquet(d + "/t")
    df = spark.read.parquet(d + "/t")  # file index lists NOW
    assert df.count() == 100
    os.remove(_glob.glob(d + "/t/*.parquet")[0])
    with pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
        df.count()  # stale plan -> loud failure, not fewer rows


@pytest.mark.skipif(fcntl is None, reason="no fcntl on this platform")
def test_marker_visibility_across_processes_and_compactions(spark, tmp_path):
    """r10 applied-marker drill, three REAL processes: two writers
    append marker-stamped file commits (footer-metadata markers, pure
    Arrow), a lock-free poller loops has_applied_marker over every
    confirmed marker, and THIS process compacts in a loop the whole
    time. The contract: once a marked commit has published, the marker
    is visible FOREVER — through the meta cache, the live sidecar/
    footer scan, and compaction's intent-carried fold (meta written
    BEFORE the log GC; the reversed order left a window where a marker
    was in neither place and a replayed batch re-applied)."""
    import time as _t

    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database mk")
    eng.use("mk")
    eng.execute("create table t(a int, v int, primary key(a))")
    store = eng.store("mk", "t")

    confirmed = str(tmp_path / "confirmed.txt")
    stop = str(tmp_path / "stop")
    errs = [str(tmp_path / f"p{i}.err") for i in range(3)]
    n_per_writer = 40
    with contextlib.ExitStack() as stack:
        writers = [
            subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(REPO, "tests", "_mp_marker_writer.py"),
                    wh, "mk", "t", str(w), str(n_per_writer), confirmed,
                ],
                stdout=subprocess.PIPE,
                stderr=stack.enter_context(open(errs[w], "w")),
                text=True,
            )
            for w in range(2)
        ]
        poller = subprocess.Popen(
            [
                sys.executable,
                os.path.join(REPO, "tests", "_mp_marker_poller.py"),
                wh, "mk", "t", confirmed, stop,
            ],
            stdout=subprocess.PIPE,
            stderr=stack.enter_context(open(errs[2], "w")),
            text=True,
        )
        n_compacts = 0
        while any(p.poll() is None for p in writers):
            store.compact(spark, target_partitions=2)
            n_compacts += 1
            _t.sleep(0.2)
        store.compact(spark, target_partitions=2)  # final fold + GC
        n_compacts += 1
        # let the poller observe the post-compaction state, then stop it
        _t.sleep(0.5)
        open(stop, "w").close()
        for w, p in enumerate(writers):
            out, _ = p.communicate(timeout=120)
            assert p.returncode == 0, pathlib.Path(errs[w]).read_text()[-2000:]
            assert f"WRITER_DONE {w}" in out
        pout, _ = poller.communicate(timeout=120)
        assert poller.returncode == 0, pathlib.Path(errs[2]).read_text()[-2000:]

    assert "VIOLATION" not in pout, pout[-2000:]
    assert "POLLER_DONE" in pout and "violations=0" in pout, pout[-500:]
    assert n_compacts >= 3, n_compacts  # compaction actually churned
    # every marker visible at the end (log fully GC'd -> meta fold)
    markers = [ln.strip() for ln in open(confirmed) if ln.strip()]
    assert len(markers) == 2 * n_per_writer
    assert all(store.has_applied_marker(m) for m in markers)
    # and the data itself survived every compaction
    assert len(eng.execute_rows("select a from t")) == 2 * n_per_writer
