"""The four benchmark workloads.

Each workload is a closed loop with one client. ``generate`` writes
every op's input before any Spark session exists; ``setup`` is the
program-side set-up that runs after the session starts and counts in
``setup_s``; ``op`` runs op ``i`` on input ``i`` and ends in the op's
complete result (a parquet write for jobs, a ``noop`` save for
queries); ``check`` verifies that result afterwards, untimed.
"""

from __future__ import annotations

import glob
import os
import time
from decimal import Decimal

import duckdb
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def plain_step(construct, action):
    """Untimed ``step``: build, then materialize. ``construct`` returns
    a DataFrame or ``(DataFrame, extra)``; the DataFrame is what
    ``action`` materializes."""
    built = construct()
    action(built[0] if isinstance(built, tuple) else built)
    return built


class Workload:
    name = ""
    ops_per_phase = 0  # most ops (inputs generated) in one run
    round_len = 1  # the timed loop ends on a multiple of this many ops
    warmup_ops = 0  # leading ops that run and are checked but not measured
    construct_layer = "plans"  # the package layer an op's construction calls

    def __init__(self, work: str, seed: int, first_op: int = 0):
        self.work, self.seed = work, seed
        self.ops = range(first_op, first_op + self.ops_per_phase)
        self.inputs: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        pass

    def op(self, spark, i: int, step) -> dict:
        """Run op ``i``; ``step(construct, action)`` times one
        construct-then-materialize stage. Returns a dict with at least
        ``records`` (input records) for the op."""
        raise NotImplementedError

    def check(self, spark, i: int, out: dict) -> str | None:
        """None when op ``i``'s output is right, else what is wrong."""
        return None


# ---------------------------------------------------------------------------


class SalesEtl(Workload):
    """The reference job: Square order JSONL -> sales pipeline ->
    dynamic partition overwrite of a standing (location_id, month)
    table. Op ``i`` covers months ``i``..``i+1`` (one month overlaps
    the previous op's partitions)."""

    name = "sales_etl"
    ops_per_phase = 40
    # the JIT is still compiling the parse and write paths over the
    # first ops (latency falls by a third); a monthly job that runs for
    # tens of seconds spends most of its time warm
    warmup_ops = 4
    orders_per_op = 1500

    def generate(self) -> None:
        os.makedirs(self.path("orders"), exist_ok=True)
        # input 0 is the history the standing table is built from
        for i in [0] + [i + 1 for i in self.ops]:
            path = self.path("orders", f"op-{i:04d}.jsonl")
            self.inputs[i] = gen.orders_jsonl(path, self.seed, i, self.orders_per_op)

    def _run(self, spark, spec: dict, table: str, step=None) -> dict:
        from analytics_etl_spark.config import PipelineConfig
        from analytics_etl_spark.plans import pipeline
        from analytics_etl_spark.sinks import writer
        from analytics_etl_spark.sources import json_ingest

        def construct():
            good, bad = json_ingest.read_orders_json(spark, spec["path"])
            cfg = PipelineConfig(start_date=spec["start"], end_date=spec["end"])
            sales, rejects = pipeline.sales_pipeline(good, self.locations, cfg)
            return sales, {"orders": good, "rejects": rejects, "corrupt": bad}

        def action(sales):
            writer.overwrite_partitions(sales, table)

        _, extra = (step or plain_step)(construct, action)
        return {"records": spec["orders"], **extra}

    def setup(self, spark) -> None:
        from analytics_etl_spark.schemas import LOCATIONS_SCHEMA

        self.locations = spark.createDataFrame(list(gen.LOCATIONS), LOCATIONS_SCHEMA)
        self.table = self.path("sales")
        self._run(spark, self.inputs[0], self.table)

    def op(self, spark, i: int, step) -> dict:
        spec, t0 = self.inputs[i + 1], time.time()
        out = self._run(spark, spec, self.table, step)
        out.update(input_bytes=os.path.getsize(spec["path"]), out_dir=self.table, t0=t0)
        return out

    def check(self, spark, i: int, out: dict) -> str | None:
        from pyspark.sql import functions as F

        spec = self.inputs[i + 1]
        # every partition file this op wrote, wherever it landed: a
        # partition the generator does not expect is an error too
        files = [
            f
            for f in glob.glob(os.path.join(self.table, "*", "*", "*.parquet"))
            if os.path.getmtime(f) >= out["t0"]
        ]
        rows = duckdb.sql(
            f"""SELECT location_id || '/' || month AS p, COUNT(*) AS n,
                       CAST(SUM(sale_price) AS VARCHAR) AS rev
                FROM read_parquet({files!r}, hive_partitioning=true)
                GROUP BY 1"""
        ).fetchall() if files else []
        got = {p: [n, Decimal(rev)] for p, n, rev in rows}
        want = {p: [n, Decimal(rev)] for p, (n, rev) in spec["partitions"].items()}
        if got.keys() != want.keys():
            return f"partitions written {sorted(got)} != expected {sorted(want)}"
        for p, w in want.items():
            if got[p] != w:
                return f"partition {p}: got {got[p]}, want {w}"
        n_rej, n_bad = out["rejects"].count(), out["corrupt"].count()
        if (n_rej, n_bad) != (spec["rejects"], spec["corrupt"]):
            return f"rejects/corrupt {(n_rej, n_bad)} != {(spec['rejects'], spec['corrupt'])}"
        out["corrupt_records"] = n_bad
        # the plans funnel (the pipeline returns no Observations): rows
        # the op wrote / line items of the orders the program parsed
        items = out["orders"].select(
            F.sum(F.when(F.col("line_items").isNotNull(), F.size("line_items")).otherwise(0))
        ).first()[0]
        out["funnel"] = sum(n for n, _ in got.values()) / items if items else None
        return None


# ---------------------------------------------------------------------------

BI_QUERIES = (
    "flagship_monthly_revenue",
    "sales_count_by_location",
    "sales_date_range",
    "recent_sales_topk",
    "window_running_revenue",
    "rollup_revenue",
    "cube_counts",
    "asof_join_last_click",
    "sessionize_events",
    "funnel_conversion",
    "cohort_retention",
    "topk_per_group",
)


class BiQueries(Workload):
    """Registry BI queries in rounds of the full set, the seed ordering
    the queries inside each round. Every round reads a fresh sf0.1-sized
    star-schema dir generated from (seed, round), so no query reads the
    same input twice. The first round warms the JVM (class loading,
    code generation, JIT) as a long-lived BI session would be warm;
    without it, how many rounds fit in a run would set how much the cold
    round weighs in the metrics. It reads an sf0.01-sized dir: the
    generated code is the same at any size, and the small dir is cheaper
    to generate and to check."""

    name = "bi_queries"
    construct_layer = "queries"
    round_len = warmup_ops = len(BI_QUERIES)
    ops_per_phase = 5 * len(BI_QUERIES)
    sf, warmup_sf = 0.1, 0.01

    def generate(self) -> None:
        r = gen.rng(self.seed, gen.STREAM["bi_queries"], 1 << 20)
        self.schedule = []
        while len(self.schedule) < self.ops.stop:
            self.schedule += [BI_QUERIES[j] for j in r.permutation(len(BI_QUERIES))]
        first = self.ops.start // self.round_len
        for rnd in range(first, self.ops.stop // self.round_len):
            d = self.path("sf", f"round-{rnd:03d}")
            rows = gen.star_schema(d, self.seed, rnd, self.warmup_sf if rnd == first else self.sf)
            for i in range(rnd * self.round_len, (rnd + 1) * self.round_len):
                self.inputs[i] = {"dir": d, "rows": rows}

    def op(self, spark, i: int, step) -> dict:
        from analytics_etl_spark.queries import REGISTRY

        name, d = self.schedule[i], self.inputs[i]["dir"]
        df = step(
            lambda: REGISTRY[name].fn(spark, d),
            lambda df: df.write.format("noop").mode("overwrite").save(),
        )
        return {"df": df, "query": name}

    def check(self, spark, i: int, out: dict) -> str | None:
        from check_oracle import canon

        from analytics_etl_spark.queries import REGISTRY
        from analytics_etl_spark.tables import TABLE_NAMES, table_path

        d, df = self.inputs[i]["dir"], out["df"]
        srows = df.collect()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            if os.path.exists(table_path(d, t)):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(d, t)}'")
        res = con.execute(REGISTRY[out["query"]].oracle)
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        con.close()
        out["result_rows"] = len(srows)
        files = df.inputFiles()
        out["records"] = sum(
            n
            for t, n in self.inputs[i]["rows"].items()
            if any(f"/{t}.parquet" in f for f in files)
        )
        if sorted(df.columns) != sorted(ocols):
            return f"{out['query']}: columns {df.columns} != {ocols}"
        if canon([tuple(r) for r in srows], df.columns) != canon(orows, ocols):
            return f"{out['query']}: rows differ from the DuckDB oracle"
        return None


# ---------------------------------------------------------------------------


class CorpusBuild(Workload):
    """The nightly LLM corpus job: corpus_build_pipeline then
    dedup_semantic_cc over a fresh documents+embeddings sf dir."""

    name = "corpus_build"
    construct_layer = "queries"
    ops_per_phase = 6
    docs, vecs = 800, 800

    def generate(self) -> None:
        for i in self.ops:
            d = self.path("sf", f"op-{i:04d}")
            self.inputs[i] = {"dir": d, **gen.corpus_dir(d, self.seed, i, self.docs, self.vecs)}

    def op(self, spark, i: int, step) -> dict:
        from analytics_etl_spark.queries import REGISTRY

        d = self.inputs[i]["dir"]
        out_build, out_cc = self.path("out", f"build-{i}"), self.path("out", f"cc-{i}")
        step(
            lambda: REGISTRY["corpus_build_pipeline"].fn(spark, d),
            lambda df: df.write.mode("overwrite").parquet(out_build),
        )
        step(
            lambda: REGISTRY["dedup_semantic_cc"].fn(spark, d),
            lambda df: df.write.mode("overwrite").parquet(out_cc),
        )
        return {
            "records": self.docs + self.vecs,
            "out_build": out_build,
            "out_cc": out_cc,
            "input_bytes": dir_bytes(d)[1],
            "out_dirs": [out_build, out_cc],
        }

    def check(self, spark, i: int, out: dict) -> str | None:
        from check_oracle import canon

        from analytics_etl_spark.queries import REGISTRY

        spec = self.inputs[i]
        built = pq.read_table(out["out_build"])
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{spec['dir']}/documents.parquet'")
        res = con.execute(REGISTRY["corpus_build_pipeline"].oracle)
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        con.close()
        srows = [tuple(r.values()) for r in built.to_pylist()]
        if canon(srows, built.column_names) != canon(orows, ocols):
            return "corpus_build_pipeline differs from the DuckDB oracle"
        cc = pq.read_table(out["out_cc"]).to_pylist()
        kept = {r["vec_id"] for r in cc if r["kept"]}
        if not kept <= set(range(spec["vecs"])) or len(cc) != spec["vecs"]:
            return "dedup_semantic_cc ids are not the input ids"
        survivors = [c for c, _ in spec["vec_exact"] if c in kept]
        if survivors:
            return f"dedup_semantic_cc kept planted exact duplicates {survivors[:5]}"
        out["result_rows"] = len(srows) + len(cc)
        return None


# ---------------------------------------------------------------------------


class CorpusIngest(Workload):
    """Gated micro-batch ingest into an on-disk corpus that grows with
    every batch; each batch is deduplicated against what earlier
    batches wrote."""

    name = "corpus_ingest"
    construct_layer = "streaming"
    ops_per_phase = 12
    # the set-up batch meets an empty corpus; the first op is the first
    # to run the corpus-side dedup, cold, which no long-running ingest does
    warmup_ops = 1
    standing, batch = 400, 150

    def generate(self) -> None:
        # batch 0 is the standing corpus; op i ingests batch i + 1
        idx = [0] + [i + 1 for i in self.ops]
        batches = gen.ingest_batches(self.path("batches"), self.seed, idx, self.standing, self.batch)
        self.inputs = dict(zip(idx, batches))

    def setup(self, spark) -> None:
        from analytics_etl_spark.streaming import ingest

        self.corpus = self.path("corpus")
        ingest.ingest_batch(spark.read.parquet(self.inputs[0]["path"]), 0, self.corpus)

    def op(self, spark, i: int, step) -> dict:
        from analytics_etl_spark.streaming import ingest

        spec = self.inputs[i + 1]
        read_bytes = dir_bytes(self.corpus)[1]
        step(
            lambda: spark.read.parquet(spec["path"]),
            lambda df: ingest.ingest_batch(df, i + 1, self.corpus),
        )
        return {
            "records": spec["docs"],
            "corpus_read_bytes": read_bytes,
            "input_bytes": os.path.getsize(spec["path"]),
            "out_dirs": [os.path.join(self.corpus, f"epoch={i + 1}")],
        }

    def check(self, spark, i: int, out: dict) -> str | None:
        table = pads.dataset(self.corpus, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "epoch"]
        )
        ids = table.column("doc_id").to_pylist()
        if len(ids) != len(set(ids)):
            return "a doc id appears twice in the corpus"
        have = set(ids)
        epoch = table.column("epoch").to_pylist()
        accepted = sum(1 for e in epoch if e == i + 1)
        spec = self.inputs[i + 1]
        first = self.standing + i * self.batch
        # a copy of an earlier doc of the same batch always loses; a copy
        # of a corpus doc loses when that doc is in the corpus
        bad = [c for c, s in spec["exact"] if c in have and (s >= first or s in have)]
        if bad:
            return f"planted exact duplicates accepted: {bad[:5]}"
        out["dropped_frac"] = (spec["docs"] - accepted) / spec["docs"]
        return None


WORKLOADS = {w.name: w for w in (SalesEtl, BiQueries, CorpusBuild, CorpusIngest)}
