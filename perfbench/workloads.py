"""The benchmark's workloads: set-up, the timed op, the traced op and the
output check of each.

Every workload drives the library only through public functions. An op
is timed from its first library call until its last output is
materialized; checks run after the clock stops.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as registry
from amazon_personalize_connectors_spark.config import PipelineConfig
from amazon_personalize_connectors_spark.functions.similarity import hnsw_probe_topk
from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import decorate_items
from amazon_personalize_connectors_spark.operators.delta import delta_check
from amazon_personalize_connectors_spark.operators.payload import build_user_track_payloads
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.operators.stamp import add_job_and_sync_info
from amazon_personalize_connectors_spark.plans.job import run_job
from amazon_personalize_connectors_spark.sinks.jsonl import write_connector_output, write_errors
from amazon_personalize_connectors_spark.sinks.transport import RecordingTransport, deliver
from amazon_personalize_connectors_spark.sources.readers import (
    read_batch_inference,
    read_item_metadata,
    read_last_sync_state,
    read_user_item_mapping,
    split_corrupt,
)
from amazon_personalize_connectors_spark.streaming.ann_monitor import (
    edges_from_store,
    hnsw_index_from_store,
    maintain_from_stream,
)
from amazon_personalize_connectors_spark.streaming.model_refresh import (
    refresh_from_stream,
    serve_topk,
)

from perfbench import fixtures as fx
from perfbench.trace import Tracer, tree_size

CHANGED_SHARE = 0.02  # share of query items a re-sync changes
STREAM_FILES = 1  # landed files per stream, one trigger each; each further trigger adds ~5 s to an op
ANN_PARAMS = {"m": 12, "n_bits": 4, "n_tables": 4}  # as the registry's stream ANN queries
LOOPS = ("dbscan_embeddings", "kcore_parts", "part_reach_bfs", "graph_walks")
DAY1 = datetime(2026, 1, 1, 6, 0, tzinfo=timezone.utc)
DAY2 = datetime(2026, 1, 2, 6, 0, tzinfo=timezone.utc)


def sync_config(run_datetime: datetime) -> PipelineConfig:
    """One delta-enabled connector that saves inference errors."""
    return PipelineConfig.from_dict(
        {
            "batchInferencePath": "batch_inference",
            "performDeltaCheck": True,
            "saveBatchInferenceErrors": True,
            "connectors": {
                fx.CONNECTOR: {
                    "itemMetadataFields": list(fx.META_FIELDS),
                    "attributePrefix": fx.ATTR_PREFIX,
                    "otherAttributes": fx.OTHER_ATTRIBUTES,
                }
            },
        },
        job_name="perfbench-sync",
        run_datetime=run_datetime,
    )


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


class Workload:
    """Set-up, op, traced op and check of one workload. ``prepare``
    builds one set-up round in ``round_dir`` (tables, then the
    workload's own inputs from them) and returns its context;
    ``expect`` adds the independent expectations to a context; ``reset``
    readies a context for the next op outside the clock."""

    nominal_op_s: float  # length of one op on a 4-core host; paces --seconds
    warmup_ops = 1  # untimed ops before the timed ones
    single_core_baseline = False  # traced run also times the op on local[1]

    def __init__(self, spark: SparkSession, seed: int, scale: fx.Scale):
        self.spark = spark
        self.seed = seed
        self.scale = scale

    def prepare(self, round_dir: str) -> dict:
        tables = os.path.join(round_dir, "tables")
        fx.write_tables(tables, self.seed, self.scale)
        return self.inputs(tables, round_dir)

    def inputs(self, tables: str, round_dir: str) -> dict:
        raise NotImplementedError

    def expect(self, ctx: dict) -> None:
        raise NotImplementedError

    def reset(self, ctx: dict, op_dir: str) -> None:
        os.makedirs(op_dir, exist_ok=True)

    def op(self, ctx: dict, op_dir: str):
        raise NotImplementedError

    def traced_op(self, ctx: dict, op_dir: str, tr: Tracer):
        raise NotImplementedError

    def check(self, ctx: dict, result) -> list[str]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# sync job: run_job, then payload shaping and delivery
# ---------------------------------------------------------------------------


class Sync(Workload):
    """``sync_full`` when ``resync`` is False: a first sync with no prior
    state. ``sync_delta``: a re-sync of a 2%-changed batch against the
    day-1 state, restored before each op."""

    single_core_baseline = True
    nominal_op_s = 3.0

    def __init__(self, spark, seed, scale, resync: bool):
        super().__init__(spark, seed, scale)
        self.resync = resync
        self.config = sync_config(DAY2 if resync else DAY1)
        self.connector = self.config.connectors[0]

    def inputs(self, tables, round_dir):
        job = os.path.join(round_dir, "job")
        fx.write_job_inputs(job, tables, self.seed)
        ctx = {"job": job, "day1_state": None, "changed": None}
        if self.resync:
            run_job(self.spark, "related_items", job, sync_config(DAY1))
            ctx["day1_state"] = os.path.join(round_dir, "day1_state")
            shutil.move(self._state_path(job), ctx["day1_state"])
            ctx["changed"] = fx.write_job_inputs(job, tables, self.seed, CHANGED_SHARE)
        return ctx

    def expect(self, ctx):
        ctx["expected"], ctx["n_errors"] = fx.expected_payloads(ctx["job"], ctx["changed"])

    def _state_path(self, job):
        return os.path.join(job, "output", fx.CONNECTOR, "state")

    def reset(self, ctx, op_dir):
        super().reset(ctx, op_dir)
        for sub in ("output", "errors"):
            shutil.rmtree(os.path.join(ctx["job"], sub), ignore_errors=True)
        if self.resync:
            shutil.copytree(ctx["day1_state"], self._state_path(ctx["job"]))

    def _spool(self, op_dir):
        spool = os.path.join(op_dir, "spool")
        return spool, (lambda: RecordingTransport(spool))

    def op(self, ctx, op_dir):
        spool, transport = self._spool(op_dir)
        report = run_job(self.spark, "related_items", ctx["job"], self.config)
        out = self.spark.read.json(report.output_paths[fx.CONNECTOR])
        payloads = build_user_track_payloads(out, self.connector).payloads
        dlq = deliver(payloads, transport).count()
        return {"report": report, "dlq": dlq, "spool": spool}

    def traced_op(self, ctx, op_dir, tr):
        """run_job's chain of layer calls, each layer's input persisted
        and counted first so a span holds only its own work."""
        spark, job, cfg, conn = self.spark, ctx["job"], self.config, self.connector
        spool, transport = self._spool(op_dir)
        held = []

        def hold(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        with tr.span("plans.job") as job_span:
            with tr.span("sources") as s:
                raw, n_raw = hold(read_batch_inference(spark, f"{job}/batch_inference"))
                batch, _corrupt = split_corrupt(raw, cache=False)
                mapping, n_map = hold(read_user_item_mapping(spark, f"{job}/user_item_mapping"))
                metadata, n_meta = hold(read_item_metadata(spark, f"{job}/item_metadata"))
                state, n_state = None, 0
                raw_state = read_last_sync_state(spark, self._state_path(job))
                if raw_state is not None:
                    state, n_state = hold(raw_state)
            s.extra["rows"] = n_raw + n_map + n_meta + n_state
            with tr.span("operators.split"):
                ok, errors = split_errors(batch, cache=False)
                ok, _ = hold(ok)
                errors, _ = hold(errors)
            with tr.span("operators.decorate"):
                per_item, _ = hold(decorate_items(
                    ok, metadata, key_cols=[("input.itemId", "queryItemId")],
                    metadata_fields=conn.item_metadata_fields or None,
                    max_recommendations=conn.max_recommendations,
                ))
            with tr.span("operators.attribution"):
                decorated, n_examined = hold(
                    attribute_users(per_item, mapping, recs_item_col="queryItemId")
                    .select("queryItemId", "userId", "recommendations")
                )
            with tr.span("operators.delta") as s:
                delta, n_delta = hold(delta_check(decorated, state))
            s.extra["state_bytes"] = tree_size(self._state_path(job))[0]
            s.extra["hit_ratio"] = n_delta / n_examined if n_examined else 0.0
            with tr.span("operators.stamp"):
                stamped, _ = hold(add_job_and_sync_info(delta, cfg.job_name, cfg.run_datetime, conn))
            with tr.span("sinks.jsonl") as s:
                out_path = write_connector_output(stamped, f"{job}/output", conn.name, cfg.run_datetime)
                err_path = write_errors(errors, f"{job}/errors", cfg.run_datetime)
            sizes = [tree_size(p) for p in (out_path, err_path) if p]
            s.extra["output_bytes"] = sum(b for b, _ in sizes)
            s.extra["files"] = sum(f for _, f in sizes)
            t0 = time.perf_counter()
            decorated.write.mode("overwrite").json(self._state_path(job))
            job_span.extra["state_write_s"] = time.perf_counter() - t0
        job_span.extra["state_bytes"] = tree_size(self._state_path(job))[0]
        with tr.span("operators.payload"):
            out = spark.read.json(out_path)
            payloads, _ = hold(build_user_track_payloads(out, conn).payloads)
        with tr.span("sinks.transport") as s:
            dlq = deliver(payloads, transport).count()
        batches = RecordingTransport.read_batches(spool)
        s.extra["batches"] = len(batches)
        s.extra["records"] = sum(len(b) for b in batches)
        s.extra["dlq_records"] = dlq
        s.extra["records_per_s"] = s.extra["records"] / (s.end - s.start)
        for df in held:
            df.unpersist()

    def check(self, ctx, result):
        fails = []
        exp = ctx["expected"]
        report = result["report"]
        delivered = report.delivered_rows.get(fx.CONNECTOR)
        if delivered != exp.rows:
            fails.append(f"run_job delivered {delivered} rows, expected {exp.rows}")
        if report.n_errors != ctx["n_errors"]:
            fails.append(f"run_job saved {report.n_errors} error rows, expected {ctx['n_errors']}")
        if report.n_corrupt:
            fails.append(f"run_job saw {report.n_corrupt} corrupt rows")
        if result["dlq"]:
            fails.append(f"{result['dlq']} records landed in the DLQ")
        got = fx.multiset_digest(r for b in RecordingTransport.read_batches(result["spool"]) for r in b)
        if got != exp:
            fails.append(f"transport received {got}, expected {exp}")
        return fails


# ---------------------------------------------------------------------------
# stream folds: model refresh + ANN edge store, then serve reads
# ---------------------------------------------------------------------------


class _Progress(StreamingQueryListener):
    """Batch durations of every streaming trigger, in arrival order."""

    def __init__(self):
        self.batch_ms: list[float] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batch_ms.append(event.progress.batchDuration)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamFold(Workload):
    nominal_op_s = 12.0
    ORACLES = {"serve_topk": "stream_model_refresh", "edges": "stream_hnsw_edges",
               "hnsw_probe": "hnsw_topk"}

    def inputs(self, tables, round_dir):
        landing = os.path.join(round_dir, "landing")
        fx.land_stream_files(tables, landing, self.seed, STREAM_FILES)
        return {
            "tables": tables,
            "landing": landing,
            "emb_schema": self.spark.read.parquet(f"{landing}/embeddings").schema,
        }

    def expect(self, ctx):
        got = fx.oracle_digests(ctx["tables"], registry.oracle_sql(), self.ORACLES.values())
        ctx["expected"] = {k: got[q] for k, q in self.ORACLES.items()}

    def _streams(self, ctx):
        rs = self.spark.readStream.option("maxFilesPerTrigger", 1)
        return (rs.schema("u long, i long").parquet(f"{ctx['landing']}/interactions"),
                rs.schema(ctx["emb_schema"]).parquet(f"{ctx['landing']}/embeddings"))

    def _probe_queries(self, ctx):
        emb = self.spark.read.parquet(f"{ctx['tables']}/embeddings.parquet")
        return emb.where(F.col("vec_id") % 50 == 0)

    @staticmethod
    def _topk(spark, store):
        return serve_topk(spark, store, k=5, min_common=2).select(
            "item", "rec_item", "n_common", F.col("rank").cast("int").alias("rank"))

    def op(self, ctx, op_dir):
        interactions, vectors = self._streams(ctx)
        refresh_from_stream(interactions, f"{op_dir}/model", f"{op_dir}/model_ckpt")
        maintain_from_stream(vectors, f"{op_dir}/ann", f"{op_dir}/ann_ckpt", **ANN_PARAMS)
        topk = _collect(self._topk(self.spark, f"{op_dir}/model"))
        hnsw_index_from_store(self.spark, f"{op_dir}/ann", f"{op_dir}/index", long_links=2, entry_sample=0)
        probe = _collect(hnsw_probe_topk(self.spark, f"{op_dir}/index", self._probe_queries(ctx),
                                         k=5, ef=16, rounds=3))
        return {"serve_topk": topk, "hnsw_probe": probe, "op_dir": op_dir}

    @staticmethod
    def _drain(tr, layer, fn, stream, store, ckpt, **kw):
        progress = _Progress()
        tr.spark.streams.addListener(progress)
        try:
            with tr.span(layer) as s:
                fn(stream, store, ckpt, **kw)
            tr.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        finally:
            tr.spark.streams.removeListener(progress)
        batches = progress.batch_ms
        s.extra["triggers"] = len(batches)
        s.extra["trigger_s"] = statistics.median(batches) / 1000 if batches else 0.0
        s.extra["store_bytes"], s.extra["store_files"] = tree_size(store)

    def traced_op(self, ctx, op_dir, tr):
        interactions, vectors = self._streams(ctx)
        self._drain(tr, "streaming.model_refresh", refresh_from_stream, interactions,
                    f"{op_dir}/model", f"{op_dir}/model_ckpt")
        self._drain(tr, "streaming.ann_monitor", maintain_from_stream, vectors,
                    f"{op_dir}/ann", f"{op_dir}/ann_ckpt", **ANN_PARAMS)
        with tr.span("streaming.model_refresh.serve_topk"):
            self._topk(self.spark, f"{op_dir}/model").collect()
        with tr.span("streaming.ann_monitor.hnsw_index_from_store"):
            hnsw_index_from_store(self.spark, f"{op_dir}/ann", f"{op_dir}/index", long_links=2, entry_sample=0)
        with tr.span("functions.similarity.hnsw_probe_topk"):
            hnsw_probe_topk(self.spark, f"{op_dir}/index", self._probe_queries(ctx),
                            k=5, ef=16, rounds=3).collect()

    def check(self, ctx, result):
        got = {k: fx.rows_digest(result[k][1], result[k][0]) for k in ("serve_topk", "hnsw_probe")}
        cols, rows = _collect(edges_from_store(self.spark, f"{result['op_dir']}/ann").select(
            F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst"), "qdot"))
        got["edges"] = fx.rows_digest(rows, cols)
        return [f"{k}: got {got[k]}, expected {v}" for k, v in ctx["expected"].items() if got[k] != v]


# ---------------------------------------------------------------------------
# checkpointed iterative loops from the query registry
# ---------------------------------------------------------------------------


class GraphLoops(Workload):
    nominal_op_s = 6.0

    def inputs(self, tables, round_dir):
        return {"tables": tables}

    def expect(self, ctx):
        ctx["expected"] = fx.oracle_digests(ctx["tables"], registry.oracle_sql(), LOOPS)

    def op(self, ctx, op_dir):
        queries = registry.queries()
        return {q: _collect(queries[q](self.spark, ctx["tables"])) for q in LOOPS}

    def traced_op(self, ctx, op_dir, tr):
        queries = registry.queries()
        for q in LOOPS:
            with tr.span(f"queries.{q}"):
                queries[q](self.spark, ctx["tables"]).collect()

    def check(self, ctx, result):
        fails = []
        for q, exp in ctx["expected"].items():
            got = fx.rows_digest(result[q][1], result[q][0])
            if got != exp:
                fails.append(f"{q}: got {got}, expected {exp}")
        return fails


class FoldLoops(Workload):
    """``stream_fold`` then ``graph_loops`` as one op, on the same tables:
    both stress the engine's fixed per-job and per-round costs, and
    neither touches the sync path. Timed cold, as a scheduled
    AvailableNow run pays it: a warm-up op would add 35-45 s to a run
    that is repeated dozens of times per measurement."""

    nominal_op_s = 35.0
    warmup_ops = 0

    def __init__(self, spark, seed, scale):
        super().__init__(spark, seed, scale)
        self.parts = {"fold": StreamFold(spark, seed, scale), "loops": GraphLoops(spark, seed, scale)}

    def inputs(self, tables, round_dir):
        return {k: w.inputs(tables, round_dir) for k, w in self.parts.items()}

    def expect(self, ctx):
        for k, w in self.parts.items():
            w.expect(ctx[k])

    def op(self, ctx, op_dir):
        return {k: w.op(ctx[k], os.path.join(op_dir, k)) for k, w in self.parts.items()}

    def traced_op(self, ctx, op_dir, tr):
        for k, w in self.parts.items():
            w.traced_op(ctx[k], os.path.join(op_dir, k), tr)

    def check(self, ctx, result):
        return [m for k, w in self.parts.items() for m in w.check(ctx[k], result[k])]


WORKLOADS = {
    "sync_full": lambda spark, seed, scale: Sync(spark, seed, scale, resync=False),
    "sync_delta": lambda spark, seed, scale: Sync(spark, seed, scale, resync=True),
    "stream_fold": StreamFold,
    "graph_loops": GraphLoops,
    "fold_loops": FoldLoops,
}
