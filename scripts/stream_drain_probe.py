#!/usr/bin/env python3
"""P4 (round 6): does draining all 13 streaming queries CONCURRENTLY in
one session collapse their per-drain scheduling floors?

Round 5 measured the sequential family wall at ~24.9s and attributed
~1s/drain to the availableNow micro-batch scheduling floor (13 drains,
13 floors). If the floors are scheduler idle time — not CPU — then 13
drains sharing one session should overlap them almost entirely.

Method: run every ``stream_*`` registry query at sf0.1 twice — once
sequentially, once via a 13-thread pool on the SAME session — and
compare wall clocks AND result hashes (order-insensitive md5 of the
stringified sorted frame).

Result (see SURVEY.md §6 scale notes): the floors overlap — identical
hashes, family wall collapses by ~3-4x. The per-query bench keeps
sequential attribution (one number per query is the contract); a
backlog-drain deployment should start the whole family and awaitAll.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from tf_idf_mapreduce_spark.session import get_spark


def dfhash(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.astype(str).sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    qs = {k: v for k, v in entry.queries().items() if k.startswith("stream_")}
    qs["stream_wordcount"](spark, sf).count()  # warmup

    t0 = time.time()
    seq = {k: dfhash(fn(spark, sf)) for k, fn in qs.items()}
    seq_wall = time.time() - t0

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=len(qs)) as ex:
        futs = {
            k: ex.submit(lambda f=fn: dfhash(f(spark, sf)))
            for k, fn in qs.items()
        }
        conc = {k: f.result() for k, f in futs.items()}
    conc_wall = time.time() - t0

    mismatch = [k for k in seq if seq[k] != conc[k]]
    print(
        f"sequential={seq_wall:.1f}s concurrent={conc_wall:.1f}s "
        f"speedup={seq_wall / conc_wall:.1f}x mismatches={mismatch}"
    )
    assert not mismatch, mismatch


if __name__ == "__main__":
    main()
