"""Subprocess worker for the applied-marker visibility drill: appends
marker-stamped file commits through append_columns (pure Arrow — no Spark)
and CONFIRMS each marker into a shared file only after the publish
returned, so the poller only ever checks markers whose commit is
durable."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentick_spark.catalog import Catalog  # noqa: E402
from opentick_spark.table import TableStore  # noqa: E402


def main() -> None:
    warehouse, db, table, worker_s, n_s, confirmed_path = sys.argv[1:7]
    worker, n = int(worker_s), int(n_s)
    store = TableStore(Catalog(warehouse), db, table)
    for i in range(n):
        marker = f"w{worker}:{i}"
        store.append_columns(
            {"a": [worker * 1000 + i], "v": [i]},
            applied_marker=marker,
        )
        with open(confirmed_path, "a") as f:
            f.write(marker + "\n")
            f.flush()
        time.sleep(0.02)
    print(f"WRITER_DONE {worker}", flush=True)


if __name__ == "__main__":
    main()
