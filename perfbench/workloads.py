"""The three benchmark workloads. Each calls only the package's public
functions, through ``Tracer.call`` so a traced run gets one span per layer
call (an untraced run calls straight through).

A workload provides:
    setup(rep)   write its inputs; called several times, the last
                 repetition's inputs are the ones measured
    op(i)        one timed operation of the closed loop
    prepare(i)   untimed housekeeping before op(i)
    check()      untimed output checks against the generators' counts or
                 the DuckDB oracles; returns (checks made, mismatch messages)
    report(ops)  the workload's named end-to-end metrics
    counts()     per-layer counts measured outside the spans
"""

from __future__ import annotations

import os
import random
import shutil
import time

import gen_corpus
import gen_structures
from spans import median

# input sizes (entries, residues per chain) and corpus size; see NOTES.md
PIPELINE_ENTRIES = 16
REQUEST_ENTRIES = 24
RESIDUES = (60, 600)
# request entries share one shape (two 150-residue chains) so that a run's
# few requests cost the same whichever entries the seed draws
REQUEST_SHAPE = {"min_res": 150, "max_res": 150, "n_chains": 2}
CORPUS_DOCS, CORPUS_VECS = 5000, 2000
CHECK_DOCS, CHECK_VECS = 60, 400

CURATION_QUERIES = (
    ("operators.llm_queries", "dedup_minhash_lsh"),
    ("operators.pipeline_queries", "dedup_cc_clusters"),
    ("operators.llm_queries", "dedup_embedding_cosine"),
    ("operators.llm_queries", "ann_lsh_bucketed"),
    ("operators.llm_queries", "ann_ivf_coarse"),
    ("plans.ann_store", "ann_ivf_store_probe"),
    ("operators.llm_queries", "ann_pq_topk"),
    ("operators.llm_queries", "knn_quantized_rescore"),
    ("operators.llm_queries", "knn_cosine_topk"),
)
EDGES = ("dssp", "validation", "sifts", "annotation")


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping checksum and marker
    files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    name = ""
    # untimed ops before the measured loop: the first ops after start-up
    # pay JIT compilation and Python worker start. A workload whose
    # checks run first (check_warms) warms up through them instead.
    warmup_ops = 1
    check_warms = False
    # the layer one whole op is (its untimed job and task counts are
    # reported as <op_layer>_jobs and _tasks)
    op_layer = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.t = spark, work, seed, tracer
        self.layer_counts: dict[str, list[float]] = {}

    def count(self, metric: str, value: float) -> None:
        self.layer_counts.setdefault(metric, []).append(value)

    def counts(self) -> dict[str, float]:
        """Median per op of each count recorded with :meth:`count`."""
        return {k: median(v) for k, v in self.layer_counts.items()}

    def prepare(self, i: int) -> None:
        pass


class StructurePipeline(Workload):
    """The lake product end to end: raw files of five formats → fresh
    entry-partitioned Parquet lake (write side) → five-way merge → residue
    rollup → Parquet (read side)."""

    name = "structure_pipeline"

    def setup(self, rep: int) -> None:
        self.src = os.path.join(self.work, f"src{rep}")
        self.exp = gen_structures.generate(self.src, self.seed, PIPELINE_ENTRIES, *RESIDUES)
        self.sides: dict[str, list[float]] = {"ingest": [], "merge": []}

    def ingest(self, lake_dir: str) -> None:
        from proteofav_spark.plans import lake
        from proteofav_spark.sources import annotation, dssp, sifts, validation

        t, src = self.t, self.src
        atoms = t.call("plans.lake.parse_mmcif_atoms_many", lake.parse_mmcif_atoms_many,
                       self.spark, f"{src}/mmcif")
        raw = t.call("sources.dssp.parse_dssp_residues", dssp.parse_dssp_residues,
                     self.spark, f"{src}/dssp")
        sides = {
            "dssp": t.call("sources.dssp.add_dssp_full_chain", dssp.add_dssp_full_chain, raw),
            "sifts": t.call("sources.sifts.parse_sifts_residues",
                            sifts.parse_sifts_residues, self.spark, f"{src}/sifts"),
            "validation": t.call("sources.validation.parse_validation_residues",
                                 validation.parse_validation_residues, self.spark,
                                 f"{src}/validation"),
            "gff": t.call("sources.annotation.parse_gff_features",
                          annotation.parse_gff_features, self.spark, f"{src}/gff"),
        }
        for name, df in sides.items():
            # staging adds entry_id from each reader's source_file column
            staged = df.withColumn("entry_id", lake.entry_id_col())
            t.call("plans.lake.write_partitioned", lake.write_partitioned, staged,
                   f"{lake_dir}/{name}", inputs=[df])
        t.call("plans.lake.write_partitioned", lake.write_partitioned, atoms,
               f"{lake_dir}/atoms")

    def merged(self, lake_dir: str):
        """The lake read back and merged; returns (merged, tables read)."""
        from proteofav_spark.functions.derived import add_res_full, add_validation_res_full
        from proteofav_spark.plans.lake import read_lake
        from proteofav_spark.plans.mergers import lake_table_merger
        from proteofav_spark.sources.annotation import annotation_aggregation

        t = self.t
        read = {n: t.call("plans.lake.read_lake", read_lake, self.spark, f"{lake_dir}/{n}")
                for n in ("atoms", "dssp", "sifts", "validation", "gff")}
        ann = t.call("sources.annotation.annotation_aggregation", annotation_aggregation,
                     read["gff"])
        # the residue join keys the per-entry readers derive (seq id +
        # insertion code) are staged here, as plain projections
        merged = t.call(
            "plans.mergers.lake_table_merger", lake_table_merger,
            add_res_full(read["atoms"]), dssp_table=read["dssp"], sifts_table=read["sifts"],
            validation_table=add_validation_res_full(read["validation"]),
            annotation_table=ann, inputs=[read["atoms"], read["validation"]],
        )
        return merged, read

    def prepare(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"op{i - 2}"), ignore_errors=True)

    def op(self, i: int) -> None:
        from proteofav_spark.operators.structures import residues_aggregation
        from proteofav_spark.sinks.writers import write_table

        t0 = time.perf_counter()
        self.lake = os.path.join(self.work, f"op{i}", "lake")
        self.ingest(self.lake)
        t1 = time.perf_counter()
        merged, read = self.merged(self.lake)
        rolled = self.t.call("operators.structures.residues_aggregation",
                             residues_aggregation, merged)
        self.out = os.path.join(self.work, f"op{i}", "residues")
        self.t.call("sinks.writers.write_table", write_table, rolled, self.out, "parquet")
        t2 = time.perf_counter()
        self.sides["ingest"].append(t1 - t0)
        self.sides["merge"].append(t2 - t1)
        files, size = _dir_bytes(self.lake)
        self.count("plans.lake.files_written", files)
        self.count("plans.lake.bytes_written", size)
        self.count("plans.lake.files_read", sum(len(df.inputFiles()) for df in read.values()))
        self.count("sinks.writers.bytes_written", _dir_bytes(self.out)[1])

    def edge_counts(self) -> dict:
        """Rows, and unmatched rows per join edge, of the merged table."""
        from pyspark.sql import functions as F

        null = {"dssp": F.col("RES_FULL").isNull(),
                "validation": F.col("validation_resnum_full").isNull(),
                "sifts": F.col("PDB_dbResNum").isNull(),
                "annotation": F.col("PDB_dbResNum").isNotNull() & F.col("site").isNull()}
        with self.t.paused():
            row = self.merged(self.lake)[0].agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("PDB_dbResNum").isNotNull().cast("long")).alias("annotation_attempted"),
                *[F.sum(c.cast("long")).alias(e) for e, c in null.items()],
            ).first()
        return row.asDict()

    def check(self) -> tuple[int, list[str]]:
        """Rows per lake table, merged rows, unmatched rows per join edge
        and residue rows after the rollup, against the generator's counts."""
        from proteofav_spark.plans.lake import read_lake

        bad = []
        tables = {"atoms": "atoms", "dssp": "dssp_rows", "sifts": "sifts_rows",
                  "validation": "validation_rows", "gff": "gff_rows"}
        for table, key in tables.items():
            got = read_lake(self.spark, f"{self.lake}/{table}").count()
            if got != self.exp[key]:
                bad.append(f"lake {table}: {got} rows, generator wrote {self.exp[key]}")
        got = self.edge_counts()
        want = {"rows": self.exp["atoms"],
                "annotation_attempted": self.exp["annotation_attempted"],
                **{e: self.exp[f"unmatched_{e}"] for e in EDGES}}
        bad += [f"merged {k}: {got[k]}, expected {v}" for k, v in want.items() if got[k] != v]
        for e in EDGES:
            attempted = got["annotation_attempted"] if e == "annotation" else got["rows"]
            self.count(f"plans.mergers.unmatched_rows.{e}", got[e])
            self.count(f"plans.mergers.match_ratio.{e}", (attempted - got[e]) / attempted)
        residues = read_lake(self.spark, self.out).count()
        if residues != self.exp["residue_rows"]:
            bad.append(f"residue rows: {residues}, expected {self.exp['residue_rows']}")
        return len(tables) + len(want) + 1, bad

    def report(self, ops: list[float]) -> dict:
        return {
            "ingest_atoms_per_s": (self.exp["atoms"] / median(self.sides["ingest"]), "atoms/s"),
            "lake_bytes_per_input_byte": (
                _dir_bytes(self.lake)[1] / self.exp["input_bytes"], "ratio"),
            "merge_atoms_per_s": (self.exp["atoms"] / median(self.sides["merge"]), "atoms/s"),
        }


class EntryRequests(Workload):
    """Closed loop, one client: the per-protein TablesGenerator path."""

    name = "entry_requests"
    op_layer = "plans.generator.request"

    def setup(self, rep: int) -> None:
        self.src = os.path.join(self.work, f"src{rep}")
        self.exp = gen_structures.generate(self.src, self.seed, REQUEST_ENTRIES, **REQUEST_SHAPE)
        order = sorted(self.exp["entries"])
        random.Random(self.seed).shuffle(order)
        self.order = order
        self.rows: list[tuple[str, int]] = []

    def op(self, i: int) -> None:
        import proteofav_spark.operators.structures as structures
        import proteofav_spark.plans.generator as generator
        import proteofav_spark.sources.dssp as dssp
        import proteofav_spark.sources.sifts as sifts
        import proteofav_spark.sources.validation as validation

        entry = self.order[i % len(self.order)]
        src = self.src
        paths = generator.SourcePaths(
            mmcif=f"{src}/mmcif/{entry}.cif", dssp=f"{src}/dssp/{entry}.dssp",
            sifts=f"{src}/sifts/{entry}.xml",
            validation=f"{src}/validation/{entry}_validation.xml",
        )
        # the generator imports its readers at call time, so patching the
        # modules gives each reader call its own span. The merger's span is
        # its plan construction plus the collect, which runs the merged plan
        # (reader scans included): a fused plan costs less than the readers'
        # separate noop actions, so subtracting those would mislead.
        layers = [
            (structures, "select_structures", "operators.structures.select_structures", True),
            (dssp, "select_dssp", "sources.dssp.select_dssp", True),
            (sifts, "select_sifts", "sources.sifts.select_sifts", True),
            (validation, "select_validation", "sources.validation.select_validation", True),
            (generator, "table_merger", "plans.mergers.table_merger", False),
        ]
        with self.t.request(f"{i}:{entry}"), self.t.span("plans.generator.request"):
            with self.t.patched(layers if self.t.enabled else []):
                merged = generator.TablesGenerator(self.spark).generate(paths, merge_tables=True)
            rows = self.t.call("plans.mergers.table_merger", merged.collect)
        self.rows.append((entry, len(rows)))

    def check(self) -> tuple[int, list[str]]:
        bad = [f"{e}: {n} rows, expected {self.exp['entries'][e]['atoms_no_h']}"
               for e, n in self.rows if n != self.exp["entries"][e]["atoms_no_h"]]
        return len(self.rows), bad

    def report(self, ops: list[float]) -> dict:
        rank = -(-3 * len(ops) // 4)  # nearest-rank 75th percentile
        return {
            "request_p50_s": (median(ops), "s"),
            "request_p75_s": (sorted(ops)[rank - 1], "s"),
        }


class CorpusCuration(Workload):
    """Index build pass then cached search pass over nine catalog queries."""

    name = "corpus_curation"
    warmup_ops = 0
    check_warms = True

    def setup(self, rep: int) -> None:
        self.corpus = os.path.join(self.work, f"corpus{rep}")
        gen_corpus.generate(self.corpus, self.seed, CORPUS_DOCS, CORPUS_VECS)
        self.passes: dict[str, list[float]] = {"build": [], "search": []}

    def run_pass(self, kind: str) -> None:
        from proteofav_spark.queries import all_queries

        qs = all_queries()
        t0 = time.perf_counter()
        for module, q in CURATION_QUERIES:
            self.t.call(f"{module}.{q}.{kind}", lambda: qs[q](self.spark, self.corpus).count())
        self.passes[kind].append(time.perf_counter() - t0)

    def op(self, i: int) -> None:
        from proteofav_spark.operators.llm_queries import evict_indexes_for_dir

        evict_indexes_for_dir(self.corpus)
        self.run_pass("build")
        self.run_pass("search")

    def check(self) -> tuple[int, list[str]]:
        """Each query's rows against its DuckDB oracle, bound to a check
        corpus the way tools/check_oracles.py binds tables. The MinHash
        oracles cost seconds per hundred documents in DuckDB, so the check
        corpus is smaller than the measured one, and dedup_cc_clusters'
        recursive-CTE closure (minutes in DuckDB) is replaced by union-find
        over the MinHash oracle's pairs, which gives the same components."""
        import duckdb

        from proteofav_spark.queries import all_oracles, all_queries

        corpus = os.path.join(self.work, "corpus-check")
        gen_corpus.generate(corpus, self.seed, CHECK_DOCS, CHECK_VECS)
        qs, oracles = all_queries(), all_oracles()
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{corpus}/{table}.parquet'")
            want_rows: dict[str, list[dict]] = {}
            for _module, q in CURATION_QUERIES:
                if q == "dedup_cc_clusters":
                    want_rows[q] = _components(want_rows["dedup_minhash_lsh"])
                    continue
                rel = con.sql(oracles[q])
                want_rows[q] = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
        finally:
            con.close()
        bad = []
        for _module, q in CURATION_QUERIES:
            sdf = qs[q](self.spark, corpus)
            cols = sorted(sdf.columns)
            got = _normalize([r.asDict() for r in sdf.collect()], cols)
            want = _normalize(want_rows[q], cols)
            schema_ok = not want_rows[q] or sorted(want_rows[q][0]) == cols
            if not schema_ok or got != want:
                bad.append(f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
        return len(CURATION_QUERIES), bad

    def report(self, ops: list[float]) -> dict:
        return {"curation_build_s": (median(self.passes["build"]), "s"),
                "curation_search_s": (median(self.passes["search"]), "s")}


def _components(pairs: list[dict]) -> list[dict]:
    """Connected components of the (doc_a, doc_b) pair graph labelled by
    their smallest doc_id: the dedup_cc_clusters oracle's semantics."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        a, b = find(p["doc_a"]), find(p["doc_b"])
        parent[max(a, b)] = min(a, b)
    label = {v: find(v) for v in list(parent)}
    size: dict[int, int] = {}
    for root in label.values():
        size[root] = size.get(root, 0) + 1
    return [{"doc_id": v, "cluster_id": r, "cluster_size": size[r], "is_canonical": v == r}
            for v, r in label.items()]


def _normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Order-insensitive rows with floats rounded to 9 places."""
    out = []
    for row in rows:
        out.append(tuple(
            ("NaN" if v != v else round(v, 9)) if isinstance(v, float) else v
            for v in (row.get(c) for c in cols)
        ))
    return sorted(out, key=lambda t: tuple(map(str, t)))


WORKLOADS = {w.name: w for w in (StructurePipeline, EntryRequests, CorpusCuration)}
