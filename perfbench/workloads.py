"""The benchmark's closed-loop workloads: one client, one process.

`QueryPasses` runs a fixed list of registry queries per pass (the
`analytics` and `short_queries` workloads; the curation list is timed in
traced runs); every output is fully executed with a `noop` write.
`Increments` (the `incremental` workload, and the short incremental run
inside every traced run) lands one day of events per increment and drives
it through the merge sink, the rollup refresh, the watermark and a
read-after-write query set.

Each workload object exposes:
  setup()          untimed preparation (staging, tables)
  check()          one untimed, output-checked sample; returns failures
  sample()         one timed sample; returns its measurements
  items_per_sample number of items (queries or increments) in a sample
  finish()         untimed checks after the timed loop; returns failures
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np

import datagen
import digests
from tracing import spark_work

# Five keys per list, so that a pass lasts a few seconds and the cold, checked
# first pass fits the run's time budget; every other registry key is timed
# once in a traced run.
ANALYTICS_KEYS = [
    "standings_recompute", "pricing_summary", "top_revenue_orders",
    "window_sums", "range_join",
]
# The rest of the relational keys that DuckDB can check, less
# grouping_analytics (about 5 s, two thirds of such a pass; it is timed in
# the traced run): short queries, where per-query planning and job launch
# are most of the time.
SHORT_KEYS = [
    "filter_fk_resolved", "percentiles", "as_of_join", "distinct_users",
    "stream_session_window",
]
CURATION_KEYS = [
    "text_quality", "tfidf_top_terms", "topk_similarity", "pii_redaction",
    "token_packing",
]
BATCH_KEYS = {"analytics": ANALYTICS_KEYS, "short_queries": SHORT_KEYS,
              "curation": CURATION_KEYS}


class QueryPasses:
    """A pass = every key of the workload's list, in order."""

    def __init__(self, spark, tables_dir: str, keys: list[str], queries: dict,
                 tracer) -> None:
        self.spark, self.dir, self.keys = spark, tables_dir, keys
        self.queries, self.tracer = queries, tracer
        self.items_per_sample = len(keys)
        self.expected: dict[str, dict] = {}
        self.n = 0

    def reference(self, oracle: dict) -> None:
        """Expected digests from DuckDB over the same parquet inputs."""
        self.expected = digests.oracle_digests(
            self.dir, {k: oracle[k] for k in self.keys}
        )

    def setup(self) -> None:
        pass

    def _run(self, key: str, collect: bool):
        sc = self.spark.sparkContext
        group = f"pb-{self.n}-{key}"
        sc.setJobGroup(group, key)
        with self.tracer.span(f"item.{key}") as sp:
            df = self.queries[key](self.spark, self.dir)
            if collect:
                rows = [tuple(r) for r in df.collect()]
                out = digests.digest(df.columns, rows)
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        sc.setJobGroup("pb-idle", "idle")
        return sp.seconds, out, group

    def check(self) -> list[str]:
        failures = []
        self.n += 1
        for key in self.keys:
            _, got, _ = self._run(key, collect=True)
            if got != self.expected[key]:
                failures.append(
                    f"{key}: got {got['rows']} rows {got['hash'][:12]}, "
                    f"expected {self.expected[key]['rows']} rows "
                    f"{self.expected[key]['hash'][:12]}"
                )
        return failures

    def sample(self, count_work: bool = False) -> dict:
        self.n += 1
        per = {}
        sc = self.spark.sparkContext
        for key in self.keys:
            secs, _, group = self._run(key, collect=False)
            per[key] = {"s": secs}
            if count_work:
                per[key].update(spark_work(sc, group))
        return {"s": sum(v["s"] for v in per.values()), "items": per}

    def finish(self) -> list[str]:
        return []


# --------------------------------------------------------------------------
# incremental
# --------------------------------------------------------------------------

AGGS = {"n": ("count", "*"), "value_sum": ("sum", "value")}
LATE_SHARE = 0.05
LATE_DAYS = 3


class Increments:
    """Daily increments with late corrections, driven through the merge
    sink, the rollup refresh, the watermark and a read set.

    Setup merges the first `n_base` days as one untimed batch, the cold
    first run of every step; `n_stage` increments follow it, one day
    each."""

    items_per_sample = 1

    def __init__(self, spark, work: str, seed: int, tracer, n_base: int,
                 n_stage: int) -> None:
        self.spark, self.work, self.tracer = spark, work, tracer
        self.rng = np.random.default_rng(seed)
        self.base = datagen.event_rows(
            self.rng, datagen.SIZES["event_days"], datagen.SIZES["events_per_day"]
        )
        self.per_day = datagen.SIZES["events_per_day"]
        self.n_base, self.n_stage = n_base, n_stage
        p = lambda *a: os.path.join(work, *a)  # noqa: E731
        self.stage_dir, self.landing = p("stage"), p("landing")
        self.target, self.rollup = p("events_t"), p("events_rollup")
        self.ckpt, self.wm_dir, self.cat = p("ckpt"), p("watermarks"), p("catalog")
        self.state: dict[int, tuple] = {}  # event_id → row, last writer wins

    # -- inputs --------------------------------------------------------
    def _day_rows(self, d: int) -> dict[str, np.ndarray]:
        """Day `d`: base day d % 30, shifted in time and event id."""
        n_base = datagen.SIZES["event_days"]
        lap, bd = divmod(d, n_base)
        sl = slice(bd * self.per_day, (bd + 1) * self.per_day)
        rows = {k: v[sl].copy() for k, v in self.base.items()}
        rows["event_id"] += lap * n_base * self.per_day
        rows["ts_us"] += lap * n_base * 86_400 * 1_000_000
        return rows

    def _increment(self, d: int) -> dict[str, np.ndarray]:
        rows = self._day_rows(d)
        if d > 0:
            lo = max(0, d - LATE_DAYS)
            prev = [self._day_rows(x) for x in range(lo, d)]
            pool = {k: np.concatenate([p[k] for p in prev]) for k in rows}
            n_late = int(LATE_SHARE * self.per_day)
            pick = self.rng.choice(len(pool["event_id"]), n_late, replace=False)
            late = {k: v[pick] for k, v in pool.items()}
            late["value"] = np.round(self.rng.exponential(50.0, n_late), 2)
            rows = {k: np.concatenate([rows[k], late[k]]) for k in rows}
        return rows

    def setup(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.stage_dir)
        os.makedirs(self.landing)
        days = [self._day_rows(d) for d in range(self.n_base)]
        batches = [(self.n_base - 1,
                    {k: np.concatenate([r[k] for r in days]) for k in days[0]})]
        batches += [(d, self._increment(d))
                    for d in range(self.n_base, self.n_base + self.n_stage)]
        # (last day, path, rows), consumed from the front
        self.staged = []
        for d, rows in batches:
            path = os.path.join(self.stage_dir, f"inc_{d:05d}.parquet")
            pq.write_table(datagen.events_table(rows, tz="UTC"), path)
            self.staged.append((d, path, rows))
        from f1_data_pipeline_spark.operators import catalog, sinks
        from f1_data_pipeline_spark.streaming.structured import EVENTS_STREAM_SCHEMA
        from pyspark.sql import types as T

        schema = T.StructType(
            EVENTS_STREAM_SCHEMA.fields + [T.StructField("day", T.DateType())]
        )
        sinks.create_manifest_table(self.spark, self.target, schema, "day")
        catalog.catalog_create_table(self.cat, "events_t", self.target)
        self._one()  # the base days; the final check covers their rows

    # -- one increment ---------------------------------------------------
    def _apply_expected(self, rows: dict[str, np.ndarray]) -> None:
        for i in range(len(rows["event_id"])):
            self.state[int(rows["event_id"][i])] = (
                int(rows["ts_us"][i]), int(rows["user_id"][i]),
                datagen.EVENT_TYPES[rows["event_type"][i]],
                float(rows["value"][i]), int(rows["props"][i]),
            )

    def _drain(self) -> dict:
        from pyspark.sql import functions as F

        from f1_data_pipeline_spark.streaming import structured

        with self.tracer.span("step.drain") as sp:
            stream = structured.read_event_stream(
                self.spark, self.landing, watermark=None
            )
            q = structured.start_merge_sink(
                stream, self.target, ["event_id"], self.ckpt,
                transform=lambda df: df.withColumn("day", F.to_date("ts")),
                partition_col="day", commit="manifest",
            )
            if not q.awaitTermination(150):
                q.stop()
                raise RuntimeError("merge drain did not finish in 150 s")
            last = q.lastProgress
            q.stop()
        dur = (last or {}).get("durationMs", {})
        return {
            "drain_s": sp.seconds,
            "addbatch_s": dur.get("addBatch", 0) / 1000,
            "trigger_s": dur.get("triggerExecution", 0) / 1000,
            "batches": 1 if last and last.get("numInputRows", 0) > 0 else 0,
        }

    def _reads(self, day: dt.date, key: int) -> tuple[list, list, list]:
        from f1_data_pipeline_spark.operators import catalog, matview

        point = catalog.catalog_sql(
            self.spark, self.cat,
            f"SELECT event_id, user_id, event_type, value FROM events_t "
            f"WHERE event_id = {key}",
        ).collect()
        day_agg = catalog.catalog_sql(
            self.spark, self.cat,
            "SELECT event_type, COUNT(*) AS n, SUM(value) AS value_sum "
            f"FROM events_t WHERE day = DATE '{day.isoformat()}' "
            "GROUP BY event_type",
        ).collect()
        roll = matview.read_aggregate(self.spark, self.rollup, AGGS).collect()
        return point, day_agg, roll

    def _one(self) -> dict:
        from f1_data_pipeline_spark.operators import matview
        from f1_data_pipeline_spark.plans.incremental import WatermarkStore

        if not self.staged:
            raise RuntimeError(f"only {self.n_stage} increments were staged")
        d, path, rows = self.staged.pop(0)
        n_rows = len(rows["event_id"])
        self.tracer.trace_id = f"increment-{d}"
        with self.tracer.span("increment") as total:
            with self.tracer.span("step.commit") as commit:
                os.rename(path, os.path.join(self.landing, os.path.basename(path)))
                drain = self._drain()
                with self.tracer.span("step.refresh") as refresh:
                    mv = matview.refresh_aggregate_deltas(
                        self.spark, self.target, ["event_id"], self.rollup,
                        ["day", "event_type"], AGGS,
                    )
                with self.tracer.span("step.watermark") as wm:
                    WatermarkStore(self.spark, self.wm_dir).complete(
                        "events", n_rows
                    )
            day = (datagen.EPOCH + dt.timedelta(days=d)).date()
            key = int(rows["event_id"][n_rows // 2])
            with self.tracer.span("step.read") as read:
                point, day_agg, roll = self._reads(day, key)
        self._apply_expected(rows)
        return {
            "s": total.seconds, "commit_s": commit.seconds, "read_s": read.seconds,
            "refresh_s": refresh.seconds, "watermark_s": wm.seconds,
            "groups_touched": mv.get("groups_touched", 0), "rows": n_rows,
            "day": day, "key": key, "point": point, "day_agg": day_agg,
            "roll": roll, **drain,
        }

    def _verify_reads(self, r: dict) -> list[str]:
        """One failure entry (or none) for this increment's read set."""
        out = []
        exp = self.state[r["key"]]
        if [tuple(x) for x in r["point"]] != [(r["key"], exp[1], exp[2], exp[3])]:
            out.append(f"point lookup of {r['key']} returned {r['point']}")
        want: dict[str, list] = {}
        for ts, _, et, v, _ in self.state.values():
            if _day_of(ts) == r["day"]:
                w = want.setdefault(et, [0, 0.0])
                w[0] += 1
                w[1] += v
        got = {x[0]: (x[1], x[2]) for x in r["day_agg"]}
        if set(got) != set(want) or any(
            got[k][0] != want[k][0] or not math.isclose(got[k][1], want[k][1], rel_tol=1e-9)
            for k in want
        ):
            out.append(f"day aggregate for {r['day']} differs from last-writer-wins")
        groups = {(_day_of(ts), et) for ts, _, et, _, _ in self.state.values()}
        if len(r["roll"]) != len(groups):
            out.append(f"rollup has {len(r['roll'])} groups, expected {len(groups)}")
        return [f"increment {r['day']}: " + "; ".join(out)] if out else []

    def check(self) -> list[str]:
        return self._verify_reads(self._one())

    def sample(self, count_work: bool = False) -> dict:
        from f1_data_pipeline_spark.operators import sinks

        before = sinks.read_manifest(self.target)
        r = self._one()
        after = sinks.read_manifest(self.target)
        r.update(_file_diff(self.target, before, after, r["rows"]))
        r["failures"] = self._verify_reads(r)
        return r

    def finish(self) -> list[str]:
        """Final table vs last-writer-wins over the landed increments; the
        rollup vs a full group-by of that expected state."""
        from f1_data_pipeline_spark.operators import matview, sinks

        failures = []
        got = sinks.read_manifest_table(self.spark, self.target).select(
            "event_id", "user_id", "event_type", "value", "props"
        ).collect()
        exp_rows = [
            (eid, u, et, v, f'{{"k": {k}}}')
            for eid, (_, u, et, v, k) in self.state.items()
        ]
        cols = ["event_id", "user_id", "event_type", "value", "props"]
        if digests.digest(cols, [tuple(x) for x in got]) != digests.digest(cols, exp_rows):
            failures.append(
                f"final table ({len(got)} rows) differs from last-writer-wins "
                f"recompute ({len(exp_rows)} rows)"
            )
        want: dict[tuple, list] = {}
        for ts, _, et, v, _ in self.state.values():
            w = want.setdefault((_day_of(ts), et), [0, 0.0])
            w[0] += 1
            w[1] += v
        roll = {
            (r["day"], r["event_type"]): (r["n"], r["value_sum"])
            for r in matview.read_aggregate(self.spark, self.rollup, AGGS).collect()
        }
        bad = [
            k for k in set(want) | set(roll)
            if k not in want or k not in roll or roll[k][0] != want[k][0]
            or round(roll[k][1], 2) != round(want[k][1], 2)
        ]
        if bad:
            failures.append(f"rollup differs from a full group-by in {len(bad)} groups")
        return failures


def _day_of(ts_us: int) -> dt.date:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts_us)).date()


def _files(m: dict | None) -> dict[str, str]:
    out = {}
    for e in (m or {}).get("partitions", {}).values():
        for f in e.get("files") or ():
            out[os.path.join(e["prefix"], f["name"])] = f
    return out


def _file_diff(path: str, before: dict | None, after: dict | None, rows: int) -> dict:
    b, a = _files(before), _files(after)
    added = [k for k in a if k not in b]
    size = 0
    for k in added:
        try:
            size += os.path.getsize(os.path.join(path, k))
        except OSError:
            pass
    return {
        "files_added": len(added),
        "bytes_added_per_row": size / max(rows, 1),
        "files_live": len(a),
    }
