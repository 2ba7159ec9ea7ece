"""The benchmark's workloads: seeded inputs, one pass, its output check,
its quality figure, and a traced pass that times each layer's public
functions from outside the library.

A pass is one closed-loop call: read the inputs, run the library call to
a complete result, stop the clock. Checks and quality run after it. A
traced pass makes the same library call with the functions it calls into
each layer wrapped in timing spans (`layer_spans`).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import reference
from perfbench.probe import ACCOUNTING, MB

HERE = os.path.dirname(os.path.abspath(__file__))
STAGES = ("keys", "pairs", "edges", "clusters", "entities")


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{path}/*.parquet"))


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True)
               if os.path.isfile(f)) / MB


@contextmanager
def layer_spans(spark, tracer, work: str, timed, flags=()):
    """Patch library functions for one traced pass, so the library's own
    call runs with its own routing and the layers it calls are timed.

    Each `(module, name, span)` in `timed` runs in a tracer span that also
    writes the function's output to parquet before it ends: a lazy
    DataFrame takes no time until something reads it. The caller then gets
    that table back, so a traced pass runs a different physical plan from
    an untraced one (see RECORD.md). Each `(module, name, key)` in `flags`
    records the boolean its function returns. Yields (spans by span name,
    flags by key); the originals are restored on exit.
    """
    spans, routes, saved = {}, {}, []

    def timing(fn, name):
        def call(*args, **kwargs):
            with tracer.span(name) as sp:
                path = sp["path"] = f"{work}/{name}-{len(tracer.spans)}"
                fn(*args, **kwargs).write.mode("overwrite").parquet(path)
                sp["rows"] = parquet_rows(path)
            spans[name] = sp
            return spark.read.parquet(path)
        return call

    def recording(fn, key):
        def call(*args, **kwargs):
            routes[key] = fn(*args, **kwargs)
            return routes[key]
        return call

    for wrap, targets in ((timing, timed), (recording, flags)):
        for mod, attr, name in targets:
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, wrap(getattr(mod, attr), name))
    try:
        yield spans, routes
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def span_metrics(*spans) -> dict:
    """`<layer>.wall_s` and the executor accounting of each span."""
    m = {}
    for sp in spans:
        m[f"{sp['name']}.wall_s"] = sp["end"] - sp["start"]
        for k in ACCOUNTING:
            m[f"{sp['name']}.{k}"] = sp[k]
    return m


class Workload:
    name = ""
    #: set by `prepare`
    input_rows = 0

    def setup(self, spark, seed: int, d: str) -> None:
        """Generate the inputs from `seed` and write them to parquet."""
        raise NotImplementedError

    def prepare(self, spark, seed: int, d: str) -> None:
        """Load what the checks need (untimed, after set-up)."""
        raise NotImplementedError

    def run(self, work: str, tracer=None):
        """One pass; with a tracer, one traced pass. Returns its output."""
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def quality(self, out) -> float:
        """Pairwise F1 of the output against the workload's truth."""
        raise NotImplementedError


class ERWorkload(Workload):
    """`er_pipeline` over synth documents; the library sees (doc_id, spans)."""

    def __init__(self, name, n_entities, **params):
        self.name, self.n_entities, self.params = name, n_entities, params

    def setup(self, spark, seed, d):
        from fozzie_spark.synth import synth_documents

        df = synth_documents(spark, self.n_entities, seed=seed).persist()
        df.select("doc_id", "spans").write.mode("overwrite").parquet(f"{d}/docs")
        df.select("doc_id", "entity_id").write.mode("overwrite").parquet(f"{d}/truth")
        df.unpersist()

    def prepare(self, spark, seed, d):
        self.spark, self.d = spark, d
        self.input_rows = parquet_rows(f"{d}/docs")
        t = pq.read_table(f"{d}/truth").to_pydict()
        self.truth = dict(zip(t["doc_id"], t["entity_id"]))
        # counts recorded for this seed, else the first pass's: every pass
        # must repeat them
        with open(os.path.join(HERE, "expected.json")) as f:
            self.pinned = json.load(f).get(self.name, {}).get(str(seed))

    def run(self, work, tracer=None):
        from fozzie_spark.pipeline import er_pipeline

        docs = self.spark.read.parquet(f"{self.d}/docs")

        def call():
            return er_pipeline(self.spark, docs, checkpoint_dir=work, resume=False, **self.params)

        if tracer is None:
            return call()
        with tracer.span("pipeline") as top:
            out = call()
        out["top"], out["layers"] = top, self._layers(tracer, top, work, out["runner"])
        return out

    def _layers(self, tracer, top, work, runner) -> dict:
        """Stage spans rebuilt from the sequential StageRunner manifests:
        each manifest is written as its stage commits, so its mtime is the
        stage's end and its wall_s gives the start."""
        m = {}
        for st in STAGES:
            man = runner.manifests[st]
            end = os.stat(os.path.join(work, f"{st}.manifest.json")).st_mtime
            tracer.add(f"pipeline.{st}", end - man["wall_s"], end, top["id"])
            mt = man["metrics"]
            m[f"pipeline.{st}.wall_s"] = man["wall_s"]
            m[f"pipeline.{st}.rows"] = mt["rows"]
            m[f"pipeline.{st}.shuffle_mb"] = (mt["shuffle_read_bytes"] + mt["shuffle_write_bytes"]) / MB
            m[f"pipeline.{st}.written_mb"] = dir_mb(man["path"])
        raw = runner.metric("pairs", "raw_candidates") or m["pipeline.pairs.rows"]
        m["pipeline.pairs.raw_candidates"] = raw
        m["pipeline.pairs.survival"] = m["pipeline.pairs.rows"] / max(raw, 1)
        m["pipeline.edges.yield"] = m["pipeline.edges.rows"] / max(m["pipeline.pairs.rows"], 1)
        m["pipeline.pairs.candidates_per_s"] = raw / max(
            m["pipeline.pairs.wall_s"] + m["pipeline.edges.wall_s"], 1e-9)
        m["pipeline.driver_s"] = tracer.self_time(top)
        return m

    def _counts(self, out) -> dict:
        r = out["runner"]
        return {
            "docs": r.metric("keys", "rows"),
            "raw_candidates": r.metric("pairs", "raw_candidates") or r.metric("pairs", "rows"),
            "pairs": r.metric("pairs", "rows"),
            "edges": r.metric("edges", "rows"),
            "entities": r.metric("entities", "rows"),
        }

    def check(self, out):
        counts = self._counts(out)
        ent = out["entities"].select("doc_id", "entity_id").toPandas()
        pred = dict(zip(ent["doc_id"], ent["entity_id"]))
        # the partition as doc -> smallest doc of its entity, so two passes
        # agree however they name their entities
        first = {}
        for doc in sorted(pred):
            first.setdefault(pred[doc], doc)
        counts["partition"] = reference.digest((doc, first[e]) for doc, e in pred.items())
        out["f1"] = reference.pairwise_f1(pred, self.truth)
        if self.pinned is None:
            self.pinned = counts
        return (
            counts["docs"] == counts["entities"] == len(pred) == self.input_rows
            and set(pred) == set(self.truth)
            and out["f1"] >= 0.99
            and counts == self.pinned
        )

    def quality(self, out):
        from fozzie_spark.pipeline import pairwise_f1

        truth = self.spark.read.parquet(f"{self.d}/truth").withColumnRenamed("entity_id", "truth")
        pred = out["entities"].select("doc_id", F.col("entity_id").alias("pred"))
        f1 = pairwise_f1(truth.join(pred, "doc_id"), truth_col="truth", pred_col="pred")["f1"]
        if abs(f1 - out["f1"]) > 1e-9:
            raise AssertionError(f"pipeline.pairwise_f1 {f1} != reference {out['f1']}")
        return f1


class StringJoinWorkload(Workload):
    """`fuzzy_string_join(method="osa", max_distance=2, how="full")` of base
    names against their mutated variants; names are the first two words of
    the synth texts. The library sees (id, name) on both sides."""

    name = "string_join"
    MAX_DISTANCE = 2

    def __init__(self, n_entities):
        self.n_entities = n_entities

    def setup(self, spark, seed, d):
        from fozzie_spark.synth import doc_text_key, synth_documents

        t = synth_documents(spark, self.n_entities, seed=seed).select(
            F.col("doc_id").alias("id"),
            F.array_join(F.slice(F.split(doc_text_key("spans"), " "), 1, 2), " ").alias("name"),
            F.substring_index("doc_id", "-", -1).cast("int").alias("variant"),
            "entity_id",
        ).persist()
        t.where("variant = 0").select("id", "name").write.mode("overwrite").parquet(f"{d}/left")
        t.where("variant > 0").select("id", "name").write.mode("overwrite").parquet(f"{d}/right")
        t.select("id", "entity_id").write.mode("overwrite").parquet(f"{d}/truth")
        t.unpersist()

    def prepare(self, spark, seed, d):
        self.spark, self.d = spark, d
        left, right = (pq.read_table(f"{d}/{s}").to_pydict() for s in ("left", "right"))
        left = list(zip(left["id"], left["name"]))
        right = list(zip(right["id"], right["name"]))
        self.input_rows = len(left) + len(right)
        matches = reference.osa_matches(
            sorted({n for _, n in left}), sorted({n for _, n in right}), self.MAX_DISTANCE)
        self.expected = reference.digest(reference.full_join_rows(left, right, matches))
        t = pq.read_table(f"{d}/truth").to_pydict()
        ent = dict(zip(t["id"], t["entity_id"]))
        by_ent: dict = {}
        for r, _ in right:
            by_ent.setdefault(ent[r], []).append(r)
        self.truth = {(l, r) for l, _ in left for r in by_ent.get(ent[l], ())}

    def run(self, work, tracer=None):
        from fozzie_spark import blocking, fuzzy_string_join, joins

        L = self.spark.read.parquet(f"{self.d}/left")
        R = self.spark.read.parquet(f"{self.d}/right")

        def call():
            out = fuzzy_string_join(L, R, by="name", method="osa", how="full",
                                    max_distance=self.MAX_DISTANCE, distance_col="d")
            return [tuple(r) for r in out.collect()]

        if tracer is None:
            return {"rows": call()}
        timed = [(blocking, "edit_candidates", "blocking"),
                 (joins, "score_string_pairs", "scoring"),
                 (joins, "materialize", "merge")]
        flags = [(blocking, "use_tiny_cross", "joins.route.tiny_cross"),
                 (blocking, "use_prefix_filter", "joins.route.prefix")]
        with layer_spans(self.spark, tracer, work, timed, flags) as (spans, routes):
            with tracer.span("joins") as top:
                rows = call()
        layers = {
            # a route whose gate was never asked was not taken
            "joins.route.tiny_cross": int(routes.get("joins.route.tiny_cross", False)),
            "joins.route.prefix": int(routes.get("joins.route.prefix", False)),
            "joins.self_s": tracer.self_time(top),
            "merge.rows": spans["merge"]["rows"],
        }
        b, s = spans.get("blocking"), spans["scoring"]
        if b is not None:  # the tiny-cross route builds no candidates
            layers["blocking.candidates"] = b["rows"]
            layers["scoring.pairs_per_s"] = b["rows"] / max(s["end"] - s["start"], 1e-9)
            layers["scoring.survival"] = s["rows"] / max(b["rows"], 1)
        layers.update(span_metrics(*spans.values()))
        return {"rows": rows, "top": top, "layers": layers}

    def check(self, out):
        return reference.digest(out["rows"]) == self.expected

    def quality(self, out):
        pred = {(r[0], r[2]) for r in out["rows"] if r[0] is not None and r[2] is not None}
        return reference.pair_f1(pred, self.truth)


class TextDedupWorkload(Workload):
    """`textops.near_dedup(method="jaccard", shingle_w=3, max_distance=0.6)`
    over synth document texts; the library sees (id, text). The method is
    exact, so its quality is judged against the brute-force grouping, not
    against the generator's entities (which it is not asked to find)."""

    name = "text_dedup"
    W, MAX_DISTANCE = 3, 0.6

    def __init__(self, n_entities):
        self.n_entities = n_entities

    def setup(self, spark, seed, d):
        from fozzie_spark.synth import doc_text_key, synth_documents

        synth_documents(spark, self.n_entities, seed=seed).select(
            F.col("doc_id").alias("id"), doc_text_key("spans").alias("text"),
        ).write.mode("overwrite").parquet(f"{d}/docs")

    def prepare(self, spark, seed, d):
        self.spark, self.d = spark, d
        docs = pq.read_table(f"{d}/docs").to_pydict()
        docs = list(zip(docs["id"], docs["text"]))
        self.input_rows = len(docs)
        rows = reference.near_dedup_rows(docs, self.W, self.MAX_DISTANCE)
        self.expected = reference.digest(rows)
        self.truth = {r[0]: r[2] for r in rows}

    def run(self, work, tracer=None):
        from fozzie_spark import cluster, textops

        D = self.spark.read.parquet(f"{self.d}/docs")

        def call():
            out = textops.near_dedup(D, "id", "text", method="jaccard",
                                     shingle_w=self.W, max_distance=self.MAX_DISTANCE)
            return [tuple(r) for r in out.collect()]

        if tracer is None:
            return {"rows": call()}
        timed = [(textops, "jaccard_dedup_pairs", "textops.pairs"),
                 (cluster, "connected_components", "cluster")]
        with layer_spans(self.spark, tracer, work, timed) as (spans, _):
            with tracer.span("textops") as top:
                rows = call()
        comps = pq.read_table(spans["cluster"]["path"]).column("component").to_pylist()
        layers = {
            "textops.pairs.rows": spans["textops.pairs"]["rows"],
            "cluster.components": len(set(comps)),
            "textops.self_s": tracer.self_time(top),
        }
        layers.update(span_metrics(*spans.values()))
        return {"rows": rows, "top": top, "layers": layers}

    def check(self, out):
        return reference.digest(out["rows"]) == self.expected

    def quality(self, out):
        return reference.pairwise_f1({r[0]: r[2] for r in out["rows"]}, self.truth)


def median_layers(outs: list[dict]) -> dict:
    keys = outs[0]["layers"].keys()
    return {k: statistics.median(o["layers"][k] for o in outs) for k in keys}
