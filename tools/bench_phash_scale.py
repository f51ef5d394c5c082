"""Honest scaling evidence for the image-phash near-dup PLAN.

The q_image_phash bench fixture derives pixel streams from
``(per-user event count, user_id % 5)`` — a SMALL image space, so the
key-shifted synthetic sf1 multiplies every identical-image group 10×
and the TRUE-pair count grows quadratically (VERDICT r8: a data-shape
artifact both engines pay, not a plan property). This harness measures
the plan itself — band LSH → bucket pairs → popcount verify
(``dedup.phash_near_dup``) — on a corpus whose pair structure scales
LINEARLY, the shape real image corpora have: hashes are ~unique per
image except a planted 3% near-dup fraction (partner = ≤3 bit flips,
inside the pigeonhole-exhaustive band radius).

Both engines run the identical banding + verify rule in the same
process window (ratios are only meaningful back-to-back on a shared
host). Usage::

    python tools/bench_phash_scale.py [n_small] [factor] [reps]

defaults: 35_000 images (the sf0.1 user count), factor 10, reps 2.

Reproducing the recorded wide-path evidence (VERDICT r10 "Next" #5) —
the n=14M "engine wins" row (.bench_sf1_r9.txt / NOTES.md §r10) is
regenerated by exactly::

    python tools/bench_phash_scale.py --wide 3500000 4 3

No environment knobs: the corpus is fully deterministic (splitmix
constants in ``_mk_rows_wide`` — there is no RNG seed to record),
the eight 32-bit one-word bands ``phash_near_dup_wide`` builds for
``_engine_wide``, and shuffle
partitions are sized INSIDE this tool by band rows
(``n_images × n_bands / 1M`` — ``SPARK_GRAFT_SHUFFLE`` is a
bench_compare knob, not read here). Protocol notes: the FIRST engine
rep is cold (JVM/page cache) — use reps ≥ 3 and read the reported
best-of; run on a QUIET host (never concurrently with another bench);
DuckDB is measured FIRST in each window because after a large Spark
job its hash join swings 3-43 s run-to-run, while engine timings are
order-insensitive.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _mk_rows(n: int):
    """Deterministic (id, h_lo, h_hi) pandas frame: splitmix-style mixed
    hashes (unique with overwhelming probability), with every 33rd image
    a planted near-dup of its predecessor (3 bit flips spread across
    words → hamming 3, within every band radius). Vectorized so the
    fixture build stays off the measured path even at millions of
    rows; Arrow carries it into both engines."""
    import numpy as np
    import pandas as pd

    i = np.arange(n, dtype=np.uint64)
    z = i * np.uint64(0x9E3779B97F4A7C15)
    z ^= z >> np.uint64(31)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(29)
    lo = (z & np.uint64(0xFFFFFFFF)).astype(np.int64)
    hi = (z >> np.uint64(32)).astype(np.int64)
    dup = (i % 33) == 32
    planted = int(dup.sum())
    src = np.where(dup, i - 1, i).astype(np.int64)
    lo = lo[src]
    hi = hi[src]
    ii = i.astype(np.int64)
    lo = np.where(dup, lo ^ (1 << (ii % 31)), lo)
    hi = np.where(
        dup,
        hi ^ ((1 << ((ii // 7) % 31)) | (1 << ((ii // 11) % 31))),
        hi,
    )
    return (
        pd.DataFrame({"id": ii, "h_lo": lo, "h_hi": hi}),
        planted,
    )


def _engine(spark, pdf, reps):
    from obsplus_spark.operators.dedup import phash_near_dup

    df = spark.createDataFrame(pdf)
    df = df.repartition(32).persist()
    df.count()
    best, n_pairs = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        n_pairs = phash_near_dup(df, max_hamming=3).count()
        best = min(best, time.perf_counter() - t0)
    df.unpersist()
    return best, n_pairs


def _duckdb(con, pdf, reps):
    con.execute("DROP TABLE IF EXISTS h")
    con.register("pdf_h", pdf)
    con.execute("CREATE TABLE h AS SELECT * FROM pdf_h")
    con.unregister("pdf_h")
    sql = """
    WITH banded AS (
      SELECT id, 0 AS band, h_lo & 65535 AS band_hash FROM h
      UNION ALL SELECT id, 1, (h_lo >> 16) & 65535 FROM h
      UNION ALL SELECT id, 2, h_hi & 65535 FROM h
      UNION ALL SELECT id, 3, (h_hi >> 16) & 65535 FROM h
    ),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.id < b.id
    )
    SELECT count(*) FROM cand c
    JOIN h x ON c.id1 = x.id JOIN h y ON c.id2 = y.id
    WHERE bit_count(xor(x.h_lo, y.h_lo)) + bit_count(xor(x.h_hi, y.h_hi)) <= 3
    """
    best, n_pairs = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        (n_pairs,) = con.execute(sql).fetchone()
        best = min(best, time.perf_counter() - t0)
    return best, n_pairs


def _mk_rows_wide(n: int):
    """Deterministic 256-bit hashes as eight 32-bit words (w0..w7):
    splitmix-mixed per (image, word) so words are ~independent, with
    every 33rd image a planted partner at Hamming 3 (flips spread over
    three distinct words — inside the 8-band pigeonhole radius)."""
    import numpy as np
    import pandas as pd

    i = np.arange(n, dtype=np.uint64)
    dup = (np.arange(n) % 33) == 32
    planted = int(dup.sum())
    src = np.where(dup, i - np.uint64(1), i)
    cols = {}
    ii = np.arange(n, dtype=np.int64)
    for j in range(8):
        z = src * np.uint64(0x9E3779B97F4A7C15) + np.uint64(j * 0x94D049BB)
        z ^= z >> np.uint64(31)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(29)
        w = (z & np.uint64(0xFFFFFFFF)).astype(np.int64)
        for b in range(3):  # bit b flips in word (i + b) % 8
            hit = dup & (((ii + b) % 8) == j)
            w = np.where(hit, w ^ (1 << ((ii * 5 + b * 11) % 32)), w)
        cols[f"w{j}"] = w
    return pd.DataFrame({"id": ii, **cols}), planted


def _engine_wide(spark, pdf, reps):
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    df = spark.createDataFrame(pdf).selectExpr(
        "id", "array(w0, w1, w2, w3, w4, w5, w6, w7) AS words"
    )
    df = df.repartition(32).persist()
    df.count()
    best, n_pairs = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        n_pairs = phash_near_dup_wide(df, max_hamming=3).count()
        best = min(best, time.perf_counter() - t0)
    df.unpersist()
    return best, n_pairs


def _duckdb_wide(con, pdf, reps):
    con.execute("DROP TABLE IF EXISTS hw")
    con.register("pdf_hw", pdf)
    con.execute("CREATE TABLE hw AS SELECT * FROM pdf_hw")
    con.unregister("pdf_hw")
    banded = " UNION ALL ".join(
        f"SELECT id, {j} AS band, w{j} AS band_hash FROM hw"
        for j in range(8)
    )
    ham = " + ".join(
        f"CAST(bit_count(xor(x.w{j}, y.w{j})) AS INTEGER)"
        for j in range(8)
    )
    sql = f"""
    WITH banded AS ({banded}),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.id < b.id
    )
    SELECT count(*) FROM cand c
    JOIN hw x ON c.id1 = x.id JOIN hw y ON c.id2 = y.id
    WHERE {ham} <= 3
    """
    best, n_pairs = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        (n_pairs,) = con.execute(sql).fetchone()
        best = min(best, time.perf_counter() - t0)
    return best, n_pairs


def main() -> int:
    import duckdb

    from bench import session

    wide = "--wide" in sys.argv
    argv = [a for a in sys.argv if a != "--wide"]
    n_small = int(argv[1]) if len(argv) > 1 else 35_000
    factor = int(argv[2]) if len(argv) > 2 else 10
    reps = int(argv[3]) if len(argv) > 3 else 2

    # shuffle partitions sized to the LARGEST point, per the engine's
    # data-sized rule (~250k hash rows per partition ≈ tens of MB of
    # exploded band rows): the bench-tuned constant 4 serializes the
    # bucket groupBy at millions of rows (observed: 1 GB page-alloc
    # retries + single-task tail at n=3.5M). The unit is BAND rows —
    # the wide path explodes 8 per image (vs 4), so sizing by hash
    # rows alone left 18 of 32 cores idle at n=3.5M (14 partitions of
    # 2M band rows each; measured 11.8 s → see .bench_sf1_r9.txt).
    n_bands = 8 if wide else 4
    shuf = max(4, (n_small * factor * n_bands) // 1_000_000)
    spark = session("phash_scale", shuffle_partitions=shuf)
    con = duckdb.connect()
    out = []
    mk, eng, ddb = (
        (_mk_rows_wide, _engine_wide, _duckdb_wide) if wide
        else (_mk_rows, _engine, _duckdb)
    )
    for n in (n_small, n_small * factor):
        pdf, planted = mk(n)
        # DuckDB first: measured AFTER a large Spark job its hash-join
        # phase contends with the JVM's retained heap and swings 3-7×
        # run-to-run; engine timings are order-insensitive (observed
        # while producing the r10 wide-hash evidence)
        dt, dp = ddb(con, pdf, reps)
        et, ep = eng(spark, pdf, reps)
        assert ep == dp, (ep, dp)
        out.append((n, planted, ep, et, dt))
        print(
            f"n={n:9d} planted={planted:6d} found_pairs={ep:6d}  "
            f"engine {et:7.3f}s  duckdb {dt:7.3f}s  ratio {et / dt:.2f}x",
            flush=True,
        )
    (n1, _, p1, e1, d1), (n2, _, p2, e2, d2) = out
    print(
        f"pair growth {p2 / p1:.1f}x at {n2 / n1:.0f}x data (linear corpus); "
        f"engine scaling {e2 / e1:.1f}x, duckdb scaling {d2 / d1:.1f}x"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
