"""10x streaming-family scale study — the one operator family without
a replication harness (graph: scale10_graph, dedup: scale10_dedup,
ANN: scale10_ann, programs: scale10_programs). The claims under test
are the ones the streaming docstrings make about 100 TB/day:

1. WATERMARK EVICTION: windowed aggregation state is bounded by the
   watermark horizon, not by history length — a 10x-LONGER event
   history (time-extended copies, one microbatch per 30-day span)
   must show peak state ~= the 1x peak while emitting ~10x windows.
2. DENSITY SCALING: a 10x-DENSER stream (user-disjoint copies on the
   SAME span, microbatched in time-slice order so event time advances
   monotonically) keeps state flat (state = windows x types,
   independent of row density) while processing 10x rows.
3. BOUNDED vs UNBOUNDED DEDUP: on the long history with per-copy
   disjoint keys, plain dropDuplicates state grows with TOTAL
   distinct keys forever; dropDuplicatesWithinWatermark holds peak
   state near keys-per-horizon (the production form the
   streaming_exact_dedup docstring points to).
4. CUSTOM STATE: user_stats_stateful state rows = distinct users (10x
   users -> 10x state, a deliberate linear-state op), rows/sec flat.

Feed construction: copies of the sf0.1 events table written as ONE
parquet file per time slice with strictly increasing mtimes, so the
file source (oldest-first) delivers microbatches in event-time order
and the watermark actually advances between batches — time-INTERLEAVED
density copies would otherwise arrive fully late and be dropped.

Usage: python scripts/scale10_streaming.py [--copies 10 --slices 10]
Prints one JSON line per run and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
USER_STRIDE = 1_000_000
SPAN_DAYS = 30


def write_sliced(df, out_dir, slices, order_col="ts"):
    """One parquet FILE per time slice, mtimes strictly increasing in
    slice order — the file source replays them as in-order
    microbatches."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = df.agg(
        F.min(order_col).alias("mn"), F.max(order_col).alias("mx")
    ).collect()[0]
    mn, mx = bounds["mn"], bounds["mx"]
    total_s = (mx - mn).total_seconds() + 1
    sliced = df.withColumn(
        "__slice",
        F.least(
            F.lit(slices - 1),
            (
                (F.col(order_col).cast("double") - F.lit(mn.timestamp()))
                / F.lit(total_s / slices)
            ).cast("int"),
        ),
    ).persist()  # one lineage computation, not one per slice filter
    t0 = time.time()
    try:
        for s in range(slices):
            part_dir = f"{out_dir}/__part{s}"
            sliced.filter(F.col("__slice") == s).drop("__slice").coalesce(
                1
            ).write.parquet(part_dir)
            src = next(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            dst = f"{out_dir}/slice{s:03d}.parquet"
            shutil.move(f"{part_dir}/{src}", dst)
            shutil.rmtree(part_dir)
            os.utime(dst, (t0 + s, t0 + s))
    finally:
        sliced.unpersist()


def run_stream(spark, stream_df, name, mode, state_partitions=8, timeout_s=600):
    """availableNow to a memory sink, returning per-batch progress
    metrics (input rows, peak state rows, watermark drops)."""
    try:
        spark.conf.set(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"
        )
    except Exception:
        pass
    # recentProgress retains only the LAST numRecentProgressUpdates
    # entries (default 100) — a 100-file feed silently undercounts
    # rows_in and loses early state peaks without this
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(state_partitions))
    try:
        t0 = time.time()
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
        if not finished:
            q.stop()
            raise RuntimeError(
                f"{name} still running after {timeout_s}s — partial "
                "metrics would be recorded as authoritative; aborting"
            )
        wall = round(time.time() - t0, 2)
        progs = [json.loads(p.json) for p in q.recentProgress]
    finally:
        spark.conf.set(conf_key, old)
    batches = [p for p in progs if p.get("numInputRows", 0) > 0]
    state_peaks = [
        max((so.get("numRowsTotal", 0) for so in p.get("stateOperators", [])), default=0)
        for p in progs
    ]
    drops = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progs
        for so in p.get("stateOperators", [])
    )
    rows_in = sum(p.get("numInputRows", 0) for p in progs)
    out_rows = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return {
        "wall_s": wall,
        "batches": len(batches),
        "rows_in": rows_in,
        "rows_per_s": round(rows_in / wall, 0) if wall else None,
        "peak_state_rows": max(state_peaks, default=0),
        "dropped_by_watermark": drops,
        "rows_out": out_rows,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--slices", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog
    from pagerank_mapreduce_implementation_spark.streaming import queries as sq

    spark = get_spark(app_name="scale10-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    events = Catalog(spark, SF_DIR).events

    def dense_copies(n):
        # user-disjoint, SAME span: density replication
        parts = [
            events.withColumn(
                "user_id", F.col("user_id") + F.lit(k * USER_STRIDE)
            ).withColumn("event_id", F.col("event_id") + F.lit(k * USER_STRIDE))
            for k in range(n)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def long_copies(n, disjoint_users=False):
        # time-extended: copy k shifted k*30 days -> n-times-longer history
        parts = []
        for k in range(n):
            p = events.withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {k * SPAN_DAYS} DAYS")
            ).withColumn("event_id", F.col("event_id") + F.lit(k * USER_STRIDE))
            if disjoint_users:
                p = p.withColumn(
                    "user_id", F.col("user_id") + F.lit(k * USER_STRIDE)
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    root = tempfile.mkdtemp(prefix="scale10_stream_")
    results = {}
    try:
        # the long feeds slice at the SAME event-time granularity as
        # base (copies x slices files over a copies-x-longer span):
        # peak state tracks windows-IN-FLIGHT (batch span + watermark
        # lag), so an apples-to-apples eviction claim needs equal
        # batch spans — a 30-day batch legitimately holds 5x the state
        # of a 6-day batch regardless of history length
        feeds = {
            "base": (events, args.slices),
            "dense10x": (dense_copies(args.copies), args.slices),
            "long10x": (long_copies(args.copies), args.copies * args.slices),
            "long10x_dkeys": (
                long_copies(args.copies, disjoint_users=True),
                args.copies * args.slices,
            ),
        }
        for name, (df, slices) in feeds.items():
            write_sliced(df, f"{root}/{name}", slices)
            print(f"feed {name} written ({slices} slices)", file=sys.stderr)

        def src(name):
            d = f"{root}/{name}"
            sch = spark.read.parquet(d).schema
            return (
                spark.readStream.format("parquet")
                .schema(sch)
                .option("maxFilesPerTrigger", 1)
                .load(d)
            )

        # JIT warmup (the scale10_graph lesson: the first streaming
        # query in a session pays codegen + state-store init; measure
        # warm or the 1x baseline reads 2-3x slow)
        run_stream(
            spark,
            sq.streaming_windowed_events(src("base")),
            "warmup",
            "append",
        )

        # 1+2: windowed aggregation — history length vs density
        for feed in ("base", "dense10x", "long10x"):
            r = run_stream(
                spark,
                sq.streaming_windowed_events(src(feed)),
                f"win_{feed}",
                "append",
            )
            results[f"windowed_{feed}"] = r
            print(json.dumps({"run": f"windowed_{feed}", **r}))

        # 3: bounded vs unbounded dedup state on the long history with
        # per-copy-disjoint keys
        r = run_stream(
            spark,
            sq.streaming_bounded_dedup(src("long10x_dkeys")),
            "dedup_bounded",
            "append",
        )
        results["dedup_bounded"] = r
        print(json.dumps({"run": "dedup_bounded", **r}))
        unbounded = (
            src("long10x_dkeys")
            .select("user_id")
            .dropDuplicates(["user_id"])
        )
        r = run_stream(spark, unbounded, "dedup_unbounded", "append")
        results["dedup_unbounded"] = r
        print(json.dumps({"run": "dedup_unbounded", **r}))

        # 4: custom stateful op — state linear in users by design
        for feed in ("base", "dense10x"):
            r = run_stream(
                spark,
                sq.user_stats_stateful(src(feed)),
                f"stateful_{feed}",
                "update",
            )
            results[f"stateful_{feed}"] = r
            print(json.dumps({"run": f"stateful_{feed}", **r}))

        # the claims, asserted
        w1, wd, wl = (
            results["windowed_base"],
            results["windowed_dense10x"],
            results["windowed_long10x"],
        )
        assert wd["peak_state_rows"] <= 2 * w1["peak_state_rows"], (
            "density replication must not grow windowed state "
            f"({wd['peak_state_rows']} vs {w1['peak_state_rows']})"
        )
        assert wl["peak_state_rows"] <= 3 * w1["peak_state_rows"], (
            "watermark must evict finalized windows on the long history "
            f"({wl['peak_state_rows']} vs {w1['peak_state_rows']})"
        )
        assert wl["rows_out"] >= 5 * w1["rows_out"], (
            "long history must emit ~copies-x finalized windows "
            f"({wl['rows_out']} vs {w1['rows_out']})"
        )
        db, du = results["dedup_bounded"], results["dedup_unbounded"]
        assert db["peak_state_rows"] * 3 < du["peak_state_rows"], (
            "horizon must cap dedup state well below the unbounded store "
            f"({db['peak_state_rows']} vs {du['peak_state_rows']})"
        )
        # claim 4: custom stateful state is linear in distinct users BY
        # DESIGN — 10x users must mean ~10x state, no more
        sb, sd = results["stateful_base"], results["stateful_dense10x"]
        assert sb["peak_state_rows"] > 0
        ratio = sd["peak_state_rows"] / sb["peak_state_rows"]
        assert args.copies * 0.9 <= ratio <= args.copies * 1.1, (
            "stateful state must scale linearly with distinct users "
            f"({sd['peak_state_rows']} vs {sb['peak_state_rows']})"
        )
        # the in-order feed construction is load-bearing: any watermark
        # drop means slices arrived out of event-time order and the
        # study silently measured a truncated stream
        for rname, r in results.items():
            assert r["dropped_by_watermark"] == 0, (
                f"{rname} dropped {r['dropped_by_watermark']} rows by "
                "watermark — feed not in event-time order"
            )
        print(json.dumps({"ok": True, **results}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
