"""The three workloads. Each one generates its inputs from the seed
(``prepare``), then runs ops: one pipeline run, one registry query, or
one landed micro-batch. ``op`` returns ``(input rows, correct)`` and
records its per-layer spans on the tracer it is given; ``check_round``
checks the state a round of ops left behind, outside all timing.

Sizes are fixed here, not by options: every run of a workload does the
same amount of work per op, so runs compare across commits.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager

from perfbench import gen
from perfbench.stats import dir_usage

# The 21 headline queries of the engine's query benchmark, copied so
# that edits there do not change this workload.
HEADLINE = [
    "tpch_q1", "tpch_q3_top10", "census_merge", "union_rollup_multi",
    "rollup_demographic", "dedup_minhash", "dedup_minhash_incremental",
    "dedup_minhash_adaptive", "dedup_simhash", "knn_bruteforce", "ann_ivf_topk",
    "ann_ivf_autok", "text_stats", "sessionize", "multimodal_frames",
    "skew_salted_join", "split_leakage_audit", "incremental_agg_maintenance",
    "dedup_span_scrub", "unigram_lm_segment", "nb_lang_train_score",
]
STAGES = ["extract", "transform", "roll_up", "merge_census", "write_to_volume"]


class Workload:
    setup_item = None  # the op of round 0 that the cold set-up runs
    WARMUP_THREADS = 1
    TRACE_ROUNDS = 4  # of a traced run

    def key(self, item) -> int:
        """Which trace rounds trace ``item``: see ``Runner.trace_rounds``."""
        return 0

    def check_round(self, spark) -> bool:
        return True


class SurveyMedallion(Workload):
    """The paper's product: the five-stage medallion pipeline from the
    survey CSVs to the gold exports, into a fresh warehouse each op."""

    name = "survey_medallion"
    N_ONLINE, N_OFFLINE = 3000, 600

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.inputs = gen.survey_inputs(os.path.join(work, "inputs"), seed,
                                        self.N_ONLINE, self.N_OFFLINE)
        self.n = 0
        self.bytes_written: list[int] = []
        return {"input_rows": self.inputs["input_rows"], "input_bytes": self.inputs["input_bytes"]}

    def schedule(self, seed: int, rnd: int) -> list:
        return [None]

    def op(self, spark, tracer, item) -> tuple[int, bool]:
        from ffi_etl_spark.pipelines import survey
        from ffi_etl_spark.sources import readers

        self.n += 1
        warehouse = os.path.join(self.work, f"wh{self.n}")
        shutil.rmtree(os.path.join(self.work, f"wh{self.n - 1}"), ignore_errors=True)
        p = self.inputs["paths"]
        with tracer.span("sources.read_csv"):
            renames = readers.config_map(readers.read_csv(spark, p["renames"]), "column_in_csv", "rename_to")
            deletes = readers.config_list(readers.read_csv(spark, p["deletes"]), "cols_delete")
            open_text = readers.config_list(readers.read_csv(spark, p["open_text"]), "open_text_columns")
            inputs = {
                "online": readers.read_csv(spark, p["online"]),
                "offline": readers.read_csv(spark, p["offline"]),
                "census": readers.read_csv(spark, p["census"], schema=(
                    "`Demographic` string, `Category` string, `Census %` string, `Display Order` int")),
            }
        pipe = survey.build_survey_pipeline(warehouse, open_text, deletes, renames)
        with tracer.span("pipeline.run"):
            if tracer.enabled:
                open_stage = _wrap_stages(pipe, tracer)
                with _traced_exports(survey, tracer):
                    pipe.run(spark, inputs)
                tracer.close(open_stage.pop())
            else:
                pipe.run(spark, inputs)
        if tracer.enabled:
            self.bytes_written.append(dir_usage(warehouse)[0])
        return self.inputs["input_rows"], self._check(pipe, warehouse)

    def _check(self, pipe, warehouse: str) -> bool:
        """Planted counts against what the pipeline wrote: bronze rows,
        valid + invalid = bronze, and per-category valid counts in both
        gold exports (census-only categories must read 0)."""
        m = pipe.metrics
        bronze = m["survey_bronze"]["n_rows"]
        if bronze != self.inputs["bronze"]:
            return False
        if m["valid_survey"]["n_rows"] != self.inputs["valid"]:
            return False
        if m["valid_survey"]["n_rows"] + m["invalid_survey"]["n_rows"] != bronze:
            return False
        vol = os.path.join(warehouse, "volume")
        roll = _json_counts(os.path.join(vol, "roll_up.json"))
        if roll != self.inputs["roll_up"]:
            return False
        merged = _json_counts(os.path.join(vol, "census_merged_roll_up.json"))
        expect = dict(self.inputs["roll_up"], **dict.fromkeys(self.inputs["census_only"], 0))
        return merged == expect


def _json_counts(path: str) -> dict[str, int]:
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out[f"{r['Demographic']}|{r['Category']}"] = int(r["# of Survey Responses"])
    return out


def _wrap_stages(pipe, tracer) -> list[dict]:
    """Each stage's span opens when its function is called and closes
    when the next stage's function is called, so it covers the stage's
    plan build (``build_end``) and then the runner's write and re-read.
    Returns a list holding the open span, for the caller to close after
    the run."""
    open_stage: list[dict] = []
    for st in pipe.stages:
        def wrapped(spark, tables, _fn=st.fn, _name=st.name):
            if open_stage:
                tracer.close(open_stage.pop())
            sp = tracer.open(f"pipeline.stage.{_name}")
            open_stage.append(sp)
            out = _fn(spark, tables)
            sp["build_end"] = time.perf_counter()
            return out

        st.fn = wrapped
    return open_stage


@contextmanager
def _traced_exports(survey, tracer):
    """Spans around the survey module's single-file exports."""
    saved = survey.single_file_json, survey.single_file_csv

    def traced(fn):
        def export(df, path, **kw):
            with tracer.span("sources.export"):
                return fn(df, path, **kw)
        return export

    survey.single_file_json, survey.single_file_csv = (traced(fn) for fn in saved)
    try:
        yield
    finally:
        survey.single_file_json, survey.single_file_csv = saved


class QueryMix(Workload):
    """Read-only analytics: the 21 headline registry queries, each
    forced with ``count()``, over seeded TPC-H-shaped tables; every pass
    runs all of them in a seed-shuffled order."""

    name = "query_mix"
    # the first run of each query compiles its code: on 4 cores the
    # warm-up pass took 34 s on one client thread, 18-22 s on four and
    # 16 s on eight
    WARMUP_THREADS = 8
    TRACE_ROUNDS = 2

    def prepare(self, work: str, seed: int) -> dict:
        import duckdb

        import __spark_entry__ as entry

        self.sf_dir = os.path.join(work, "tables")
        manifest = gen.tpch_tables(self.sf_dir, seed)
        self.table_rows = manifest["rows"]
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.sql(f"CREATE TABLE {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, t + '.parquet')}')")
            self.expect = {q: con.sql(f"SELECT count(*) FROM ({oracles[q]})").fetchone()[0]
                           for q in HEADLINE}
        finally:
            con.close()
        self.rows: dict[str, int] = {}
        return {"input_rows": manifest["input_rows"], "input_bytes": manifest["input_bytes"]}

    setup_item = HEADLINE[0]

    def schedule(self, seed: int, rnd: int) -> list:
        order = list(HEADLINE)
        random.Random(seed * 1000 + rnd).shuffle(order)
        return order

    def key(self, name: str) -> int:
        return HEADLINE.index(name)

    def op(self, spark, tracer, name: str) -> tuple[int, bool]:
        with tracer.span(f"query.{name}"):
            with tracer.span(f"query.{name}.build"):
                df = self.queries[name](spark, self.sf_dir)
            with tracer.span(f"query.{name}.exec"):
                n = df.count()
        if name not in self.rows:
            self.rows[name] = self._input_rows(df)
        return self.rows[name], n == self.expect[name]

    def _input_rows(self, df) -> int:
        """Rows of the generated tables the query's plan scans."""
        tables = {os.path.basename(f.rstrip("/")).removesuffix(".parquet") for f in df.inputFiles()}
        return sum(self.table_rows.get(t, 0) for t in tables)


class StreamIngest(Workload):
    """Incremental dedup + ANN into one growing store: each op lands one
    document batch and one vector batch, then drains both sinks with
    ``availableNow``. Round 0 lands batches 0 (the set-up op, which
    bootstraps the stores) and 1; round r > 0 lands batch r + 1, so
    later rounds probe a larger store."""

    name = "stream_ingest"
    BATCHES, DOCS, VECS = 20, 120, 400
    IN_BATCH_DUPS, CROSS_BATCH_DUPS = 4, 4
    # pinned split: planted pairs sit at jaccard >= 0.9, where 8 bands
    # of 3 rows find a pair with probability > 0.9999. Shingles are
    # hashed with md5, the sink's default: with fast=True the xxhash64
    # signatures agree far less often than the Jaccard says, and planted
    # pairs are missed.
    LSH = {"num_perm": 24, "bands": 8}
    setup_item = 0

    def prepare(self, work: str, seed: int) -> dict:
        """Writes every batch's two files aside; an op only moves them in."""
        self.root = os.path.join(work, "stream")
        for d in ("docs_in", "vecs_in", "staged"):
            os.makedirs(os.path.join(self.root, d))
        self.data = gen.stream_batches(seed, self.BATCHES, self.DOCS, self.VECS,
                                       self.IN_BATCH_DUPS, self.CROSS_BATCH_DUPS)
        for b in range(self.BATCHES):
            for kind in ("docs", "vecs"):
                gen.write_jsonl(self._staged(kind, b), self.data[kind][b])
        self.landed: list[int] = []
        self.append_times: dict[str, list[float]] = {"dedup": [], "ann": []}
        staged = dir_usage(os.path.join(self.root, "staged"))[0]
        return {"input_rows": self.BATCHES * (self.DOCS + self.VECS), "input_bytes": staged,
                "batches": self.BATCHES, "docs_per_batch": self.DOCS,
                "vecs_per_batch": self.VECS, "planted_pairs": len(self.data["pairs"])}

    def _staged(self, kind: str, b: int) -> str:
        return os.path.join(self.root, "staged", f"{kind}-b{b}.json")

    def schedule(self, seed: int, rnd: int) -> list:
        if rnd + 1 >= self.BATCHES:
            raise RuntimeError(f"{self.name} generates {self.BATCHES} batches; "
                               "--seconds is too long for them")
        return [0, 1] if rnd == 0 else [rnd + 1]

    def op(self, spark, tracer, b: int) -> tuple[int, bool]:
        from ffi_etl_spark.streaming.ann_ingest import stream_ann_ingest
        from ffi_etl_spark.streaming.ingest import stream_dedup_ingest

        r = self.root
        for kind in ("docs", "vecs"):  # a whole file lands at once
            os.replace(self._staged(kind, b), os.path.join(r, f"{kind}_in", f"b{b}.json"))
        self.landed.append(b)
        dedup = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").json(os.path.join(r, "docs_in")),
            os.path.join(r, "corpus"), os.path.join(r, "pairs"), os.path.join(r, "ckpt_dedup"),
            sigs_path=os.path.join(r, "sigs"), **self.LSH)
        self._drain(tracer, "dedup", dedup, b)
        ann = stream_ann_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>").json(os.path.join(r, "vecs_in")),
            os.path.join(r, "index"), os.path.join(r, "ckpt_ann"))
        self._drain(tracer, "ann", ann, b)
        return self.DOCS + self.VECS, True

    def _drain(self, tracer, sink: str, writer, b: int) -> None:
        t0 = time.perf_counter()
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()  # raises when the query failed
        t1 = time.perf_counter()
        if b > 1:  # after round 0
            self.append_times[sink].append(t1 - t0)
        tracer.add(f"streaming.{sink}", t0, t1, group=str(q.runId))

    def check_round(self, spark) -> bool:
        """Each planted pair whose documents have landed appears in the
        pairs audit exactly once, and the IVF assignments hold one row
        per vector landed."""
        r = self.root
        audit = [tuple(sorted((row.id_a, row.id_b))) for row in
                 spark.read.parquet(os.path.join(r, "pairs")).select("id_a", "id_b").collect()]
        counts: dict[tuple, int] = {}
        for p in audit:
            counts[p] = counts.get(p, 0) + 1
        landed = {row["doc_id"] for b in self.landed for row in self.data["docs"][b]}
        if any(counts.get(tuple(sorted(p)), 0) != 1 for p in self.data["pairs"] if p[1] in landed):
            return False
        assigned = spark.read.parquet(os.path.join(r, "index", "assignments")).count()
        return assigned == sum(len(self.data["vecs"][b]) for b in self.landed)

    def state_usage(self, sink: str) -> tuple[int, int]:
        """(bytes, files) of a sink's stored state."""
        dirs = {"dedup": ("corpus", "sigs", "pairs"), "ann": ("index",)}[sink]
        usage = [dir_usage(os.path.join(self.root, d)) for d in dirs]
        return sum(u[0] for u in usage), sum(u[1] for u in usage)


WORKLOADS = {w.name: w for w in (SurveyMedallion, QueryMix, StreamIngest)}
