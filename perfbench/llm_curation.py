"""``llm_curation``: the corpus-curation path, where kernel work dominates.

Inputs are a seeded, token-salted document corpus with planted near-copies
and exact copies, and unit vectors with jittered near-copies planted around
seeded query vectors. Set-up also copies both into a lakehouse. Each pass
runs the text, dedup and similarity kernels, then builds the persisted
text (BM25) and ANN indexes over the lake copies and serves seeded batches
from them, and collects every output row, so no output column is pruned
away. The index builds are pass ops rather than set-up, so they are timed
once per run instead of once per set-up repetition. The checks score the
first pass's rows against the planted truth and against the one-shot
kernels.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

import gen
import spans as S
from common import Op, Workload, compare_rows, rows_digest

SIZES = {"full": (1_000, 2_000), "tiny": (300, 400)}  # (documents, vectors)
CATALOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog.json")
TEXT_INDEX, ANN_INDEX = "docs_text", "vecs_ann"
KERNEL_LAYERS = ("dedup", "similarity", "textstats")
INDEX_LAYERS = ("text_index", "ann_index")
N_TEXT_QUERIES = 3


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class LlmCuration(Workload):
    name = "llm_curation"

    def __init__(self, *args):
        super().__init__(*args)
        rng = random.Random(self.seed)
        # the first serve query repeats the one-shot bm25_topk terms
        self.text_queries = [sorted(rng.sample(gen.VOCAB, 3))
                             for _ in range(N_TEXT_QUERIES)]
        self.terms = self.text_queries[0]
        self.recall: dict[str, float] = {}
        with open(CATALOG) as f:
            self.floors = json.load(f)["recall_floors"]

    def setup(self, rep_dir: str) -> None:
        from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

        n_docs, n_vecs = SIZES[self.tier]
        self.corpus = gen.write_corpus(os.path.join(rep_dir, "corpus"), self.seed,
                                       n_docs, n_vecs)
        self.input_rows = self.corpus.n_docs + self.corpus.n_vecs
        self.docs = self.spark.read.parquet(self.corpus.docs_path)
        self.vecs = self.spark.read.parquet(self.corpus.vecs_path)
        self.queries = self.vecs.filter(F.col("vec_id").isin(self.corpus.query_ids))
        self.lake = Lakehouse(self.spark, os.path.join(rep_dir, "warehouse"))
        for t, df in (("lake.docs", self.docs), ("lake.vecs", self.vecs)):
            with self.tracer.span("lakeshim", "create_table_as"):
                self.lake.create_table_as(t, df)

    def instrument(self) -> None:
        self.trace_lake_reads()

    def ops(self) -> list[Op]:
        from apache_iceberg_lakehouse_workshop_spark.operators import ann_index as AI
        from apache_iceberg_lakehouse_workshop_spark.operators import dedup as DD
        from apache_iceberg_lakehouse_workshop_spark.operators import similarity as SIM
        from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TI
        from apache_iceberg_lakehouse_workshop_spark.operators import textstats as TS

        kernels = {
            "textstats.text_stats": lambda: TS.text_stats(self.docs),
            "textstats.bm25_topk": lambda: TS.bm25_topk(self.docs, self.terms),
            "dedup.exact_dup_groups": lambda: DD.exact_dup_groups(self.docs),
            "dedup.minhash_clusters":
                lambda: DD.duplicate_clusters(DD.minhash_lsh_pairs(self.docs)),
            "similarity.knn_ivfpq": lambda: SIM.knn_ivfpq(self.vecs, self.queries),
            "similarity.semdedup": lambda: SIM.semdedup(self.vecs),
        }
        out = [Op(name, self._op(name, build)) for name, build in kernels.items()]

        def text_build():
            with self.tracer.span("text_index", "build"):
                return [TI.build_text_index(self.lake, "lake.docs", TEXT_INDEX)]

        def ann_build():
            with self.tracer.span("ann_index", "build"):
                return [AI.build_ann_index(self.lake, "lake.vecs", ANN_INDEX)]

        def text_serve():
            with self.tracer.span("text_index", "serve"):
                return [TI.bm25_query(self.lake, TEXT_INDEX, t).collect()
                        for t in self.text_queries]

        def ann_serve():
            with self.tracer.span("ann_index", "serve"):
                return AI.ann_query(self.lake, ANN_INDEX, self.queries).collect()

        return out + [Op("text_index.build", text_build),
                      Op("ann_index.build", ann_build),
                      Op("text_index.serve", text_serve),
                      Op("ann_index.serve", ann_serve)]

    def _op(self, name: str, build):
        layer, op = name.split(".", 1)

        def run():
            with self.tracer.span(layer, op):
                return build().collect()

        return run

    def digest(self, name: str, result) -> str:
        if name.endswith(".build"):  # the build summary, less its snapshot id
            return rows_digest(sorted((k, v) for k, v in result[0].items()
                                      if k != "source_snapshot_id"))
        if name == "text_index.serve":
            return rows_digest((i, *r) for i, rows in enumerate(result) for r in rows)
        return rows_digest(result)

    def check(self, results: dict, plant_wrong: bool = False) -> list[str]:
        from apache_iceberg_lakehouse_workshop_spark.operators import ann_index as AI
        from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TI

        c = self.corpus
        problems: list[str] = []

        def expect(name, ok, detail):
            self.checked.append(name)
            if not ok:
                problems.append(f"{name}: {detail}")

        n = len(results["textstats.text_stats"])
        expect("textstats.text_stats", n == c.n_docs, f"{n} rows, want {c.n_docs}")
        n_groups = len(results["dedup.exact_dup_groups"])
        want_groups = c.n_exact + int(plant_wrong)
        expect("dedup.exact_dup_groups", n_groups == want_groups,
               f"{n_groups} groups, want {want_groups}")
        topk = results["textstats.bm25_topk"]
        expect("textstats.bm25_topk", len(topk) == 20, f"{len(topk)} rows, want 20")
        # one code row per vector and sub-quantizer (4 by default)
        n_codes, want_codes = results["ann_index.build"][0]["n_codes"], 4 * c.n_vecs
        expect("ann_index.build", n_codes == want_codes,
               f"{n_codes} codes, want {want_codes}")
        # the persisted index must serve what the one-shot scorer computes
        served = results["text_index.serve"][0]
        cols = list(topk[0].__fields__) if topk else []
        bad = compare_rows("text_index.serve", cols, served, cols, topk)
        expect("text_index.serve", not bad, "; ".join(bad))
        for name, status in (("text_index.fresh", TI.text_index_status(self.lake, TEXT_INDEX)),
                             ("ann_index.fresh", AI.ann_index_status(self.lake, ANN_INDEX))):
            expect(name, status["fresh"], f"index not fresh: {status}")
        rep = {r["doc_id"]: r["cluster_rep"] for r in results["dedup.minhash_clusters"]}
        found = [p for p in c.dup_pairs if p[0] in rep and rep[p[0]] == rep.get(p[1])]
        self.recall["dedup.pair_recall"] = len(found) / len(c.dup_pairs)
        want = {(q, v) for q, ns in c.neighbours.items() for v in ns}
        for name in ("similarity.knn_ivfpq", "ann_index.serve"):
            got = {(r["query_id"], r["cand_id"]) for r in results[name]}
            self.recall[f"{name}.recall_at_5"] = len(got & want) / len(want)
        for name, floor in self.floors.items():
            expect(name, self.recall[name] >= floor,
                   f"{self.recall[name]:.3f} below floor {floor}")
        # planted copies are scaled queries: cosine 1, so one cluster each
        reps = {r["vec_id"]: r["cluster_rep"] for r in results["similarity.semdedup"]}
        split = [q for q, ns in c.neighbours.items()
                 if len({reps[q]} | {reps[v] for v in ns}) != 1]
        expect("similarity.semdedup", not split, f"planted copies split: {split[:3]}")
        return problems

    def layer_metrics(self, spans, first, session_start_s, out_root):
        unstable = self.unstable_counters(spans, out_root)
        m = self.common_metrics(spans, first, session_start_s, unstable)
        tr = self.pass_spans(spans)
        kern = [s for s in tr if s["layer"] in KERNEL_LAYERS]
        for s in kern:
            key = f"{s['layer']}.{s['op']}"
            m[f"{key}.s"] = s["end"] - s["start"]
            m[f"{key}.jobs"] = s["jobs"]
        for layer in KERNEL_LAYERS:
            ls = [s for s in kern if s["layer"] == layer]
            m[f"{layer}.s"] = S.seconds(ls)
            for k in ("jobs", "tasks", "task_s", "cpu_s", "shuffle_bytes", "spill_bytes"):
                m[f"{layer}.{k}"] = S.total(ls, k)
        m["operators.cpu_util"] = S.total(kern, "cpu_s") / (S.seconds(kern) * self.nproc)
        for layer in INDEX_LAYERS:
            build = [s for s in tr if s["layer"] == layer and s["op"] == "build"]
            serve = [s for s in tr if s["layer"] == layer and s["op"] == "serve"]
            m[f"{layer}.build_s"] = S.seconds(build)
            m[f"{layer}.build_jobs"] = S.total(build, "jobs")
            m[f"{layer}.serve.s"] = S.seconds(serve)
            m[f"{layer}.serve.jobs"] = S.total(serve, "jobs")
            m[f"{layer}.serve.tasks"] = S.total(serve, "tasks")
        # share of the postings bytes one text query reads
        postings = self.lake.table(f"{TEXT_INDEX}_postings").read().inputFiles()
        post_bytes = sum(os.path.getsize(_local(p)) for p in postings)
        serve = [s for s in tr if s["layer"] == "text_index" and s["op"] == "serve"]
        m["text_index.serve.bytes_read_ratio"] = S.total(serve, "scan_bytes") / (
            post_bytes * len(self.text_queries))
        # share of the ANN codes files the serve plans to read
        codes = set(self.lake.table(f"{ANN_INDEX}_codes").read().inputFiles())
        ids = {s["id"]: s for s in tr}
        probed = {f for s in tr if s["layer"] == "lakeshim"
                  and ids.get(s["parent"], {}).get("op") == "serve"
                  for f in s.get("files", ())}
        m["ann_index.serve.files_probed_ratio"] = len(probed & codes) / len(codes)
        m.update(self.recall)
        return m, unstable
