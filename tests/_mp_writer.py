"""Subprocess worker for the multi-process writer stress test: hammers
one shared table with batch commits (upserts + periodic delete batches)
through the storage layer's flock-serialized seq allocation — no Spark
needed on the write path (append_columns is pure Arrow)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentick_spark.catalog import Catalog  # noqa: E402
from opentick_spark.table import TableStore  # noqa: E402


def main() -> None:
    warehouse, db, table, worker_s, batches_s, keys_s = sys.argv[1:7]
    worker, n_batches, n_keys = int(worker_s), int(batches_s), int(keys_s)
    # optional 7th arg: key base — disjoint key spaces per worker make
    # the final state deterministic regardless of commit interleaving
    # (used by the concurrent-compaction stress test)
    base = int(sys.argv[7]) if len(sys.argv) > 7 else 0
    store = TableStore(Catalog(warehouse), db, table)
    for b in range(n_batches):
        if b % 5 == 4:
            # periodic tombstone batch over a subset of the keys
            store.append_columns(
                {"a": [base + k for k in range(worker % 7, n_keys, 7)]},
                delete=True,
            )
        else:
            store.append_columns(
                {
                    "a": [base + k for k in range(n_keys)],
                    "v": [
                        worker * 1_000_000 + b * 1_000 + k
                        for k in range(n_keys)
                    ],
                }
            )
    print(f"WORKER_DONE {worker}", flush=True)


if __name__ == "__main__":
    main()
