"""recrawl: link generation 1 of a crawl (the cold operation), then
refresh the KG for generation 2, a few percent churn later, reusing
generation 1's stored linked mentions (the warm operation).

In the refresh the per-page layers (extract+NER, candidates) see only
the churned pages; page diffing, the reuse read path, NIL
canonicalization and the triple sink run over the whole corpus."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

N_DOCS = 300
SENTS = (60, 90)            # Common-Crawl-weight pages (~7 KB html)
CHANGED, REMOVED = 5, 1     # percent of generation-1 pages, by url hash
ADDED = 2                   # percent of generation-1 size, new urls
MIN_PR = 0.95
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")


def _bucket(url: str, seed: int) -> int:
    h = hashlib.blake2b(f"{seed}:{url}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big") % 100


def _generations(n_docs: int, seed: int):
    """Generation 1 and 2 page dicts.  Per-url hash bucket < 5:
    changed (same url, content from another seed); == 5: removed;
    otherwise unchanged; plus 2% new urls."""
    from neleval_spark.pipeline.corpus import gen_doc

    lo, hi = SENTS
    seed2 = seed + 1_000_003
    gen1 = [gen_doc(i, seed, lo, hi) for i in range(n_docs)]
    gen2 = []
    for i, doc in enumerate(gen1):
        b = _bucket(doc["url"], seed)
        if b < CHANGED:
            gen2.append(gen_doc(i, seed2, lo, hi))
        elif b >= CHANGED + REMOVED:
            gen2.append(doc)
    gen2 += [gen_doc(i, seed2, lo, hi)
             for i in range(n_docs, n_docs + n_docs * ADDED // 100)]
    return gen1, gen2


def _write_pages(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {c: [d[c] for d in docs] for c in PAGE_COLS},
        schema=pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())]))
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def gold_triples(docs: list[dict]) -> set[tuple[str, str, str]]:
    """The KG the generator implies, derived in plain Python from the
    gold mentions: (eid, mentioned_in, url) per distinct entity of a
    page and (a, cooccurs_with, b), a < b, per distinct entity pair
    of a sentence."""
    out = set()
    for d in docs:
        by_sent: dict[int, set] = {}
        for _s, _e, _surf, eid, _t, sent in d["mentions"]:
            out.add((eid, "mentioned_in", d["url"]))
            by_sent.setdefault(sent, set()).add(eid)
        for eids in by_sent.values():
            ordered = sorted(eids)
            for i, a in enumerate(ordered):
                for b in ordered[i + 1:]:
                    out.add((a, "cooccurs_with", b))
    return out


def prepare(root: str, cache_dir: str, seed: int, n_docs: int) -> None:
    """Pages of both generations and generation 2's gold triples.
    Plain Python, no Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen1, gen2 = _generations(n_docs, seed)
    _write_pages(gen1, f"{cache_dir}/pages1")
    _write_pages(gen2, f"{cache_dir}/pages2")
    subj, pred, obj = zip(*sorted(gold_triples(gen2)))
    os.makedirs(f"{cache_dir}/gold_triples")
    pq.write_table(pa.table({"subj": subj, "pred": pred, "obj": obj}),
                   f"{cache_dir}/gold_triples/part-0.parquet")
    with open(f"{cache_dir}/meta.json", "w") as f:
        json.dump({"n_docs": n_docs, "n_pages2": len(gen2)}, f)


def triple_set_hash(spark, out_dir: str) -> dict:
    """Order-independent fingerprint of the committed triple set plus
    the manifest's row total."""
    from pyspark.sql import functions as F

    from neleval_spark.pipeline.triples import read_triples

    row = (read_triples(spark, out_dir)
           .select("subj", "pred", "obj", "url").distinct()
           .agg(F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(subj, pred, obj, url))")
                .alias("x"))
           .collect()[0])
    rows = spark.read.parquet(os.path.join(out_dir, "manifest")) \
        .agg(F.sum("n_rows")).collect()[0][0]
    return {"n": row["n"], "xor": row["x"], "manifest_rows": rows}


class Workload:
    name = "recrawl"
    warm_ops = 1

    def __init__(self, spark, inputs: str, run_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.run_dir = run_dir
        with open(f"{inputs}/meta.json") as f:
            self.n_pages = json.load(f)["n_pages2"]
        self.prev_linked = os.path.join(run_dir, "prev_linked")
        self.n_op = 0
        self._gold = None
        self._rebuild = None

    def cold_op(self) -> tuple[float, dict]:
        """The previous generation's job: link generation 1 and store
        its pre-canonicalization mentions
        (``build_mentions(..., canonicalize=False)``), which every
        refresh then reuses."""
        from neleval_spark.pipeline import kb_table
        from neleval_spark.pipeline.run import (
            build_mentions, release_materialized)

        t0 = time.perf_counter()
        linked = build_mentions(
            self.spark.read.parquet(f"{self.inputs}/pages1"),
            kb_table(self.spark), canonicalize=False)
        linked.write.parquet(self.prev_linked)
        wall = time.perf_counter() - t0
        for h in getattr(linked, "_materialized_deps", ()):
            release_materialized(h)
        return wall, {}

    def _frames(self):
        from neleval_spark.pipeline import kb_table

        read = self.spark.read.parquet
        return (read(f"{self.inputs}/pages1"), read(f"{self.inputs}/pages2"),
                read(self.prev_linked), kb_table(self.spark))

    def _out_dir(self) -> str:
        self.n_op += 1
        return os.path.join(self.run_dir, f"kg-{self.n_op}")

    def run_op(self) -> tuple[float, dict]:
        """The refresh: incremental_triples + write_triples into a
        fresh directory; ends when triples and manifest are
        committed."""
        from neleval_spark.pipeline.incremental import incremental_triples
        from neleval_spark.pipeline.triples import write_triples

        out_dir = self._out_dir()
        t0 = time.perf_counter()
        prev, new, linked, kb = self._frames()
        write_triples(incremental_triples(prev, new, linked, kb), out_dir)
        wall = time.perf_counter() - t0
        return wall, {"out_dir": out_dir}

    def run_traced_op(self, tracer, scratch: str) -> dict:
        """The same refresh, layer by layer, each layer's output
        written to scratch parquet before the next layer reads it."""
        from pyspark.sql import functions as F

        from neleval_spark.pipeline.candidates import (
            generate_candidates, score_and_select, with_context_features)
        from neleval_spark.pipeline.canonicalize import canonicalize_nils
        from neleval_spark.pipeline.incremental import page_diff
        from neleval_spark.pipeline.ner import (
            extract_and_detect, gazetteer_from_kb)
        from neleval_spark.pipeline.triples import (
            emit_triples, write_triples)

        read = self.spark.read.parquet
        out_dir = self._out_dir()
        with tracer.span("op"):
            prev, new, linked, kb = self._frames()
            with tracer.span("pipeline.incremental"):
                page_diff(prev, new).write.parquet(f"{scratch}/diff")
                d = read(f"{scratch}/diff")
                unchanged = d.where(F.col("status") == "unchanged") \
                    .select("url")
                todo = d.where(F.col("status").isin("added", "changed")) \
                    .select("url")
                linked.join(unchanged, "url", "left_semi") \
                    .write.parquet(f"{scratch}/kept")
                new.join(todo, "url", "left_semi") \
                    .write.parquet(f"{scratch}/fresh_pages")
            with tracer.span("pipeline.ner"):
                gaz = gazetteer_from_kb(kb)
                pages = read(f"{scratch}/fresh_pages") \
                    .where(F.col("lang") == "en")
                extract_and_detect(pages, gazetteer=gaz) \
                    .write.parquet(f"{scratch}/mentions")
            with tracer.span("pipeline.candidates"):
                cands = with_context_features(generate_candidates(
                    read(f"{scratch}/mentions"), kb))
                score_and_select(cands.repartition(F.col("url"))) \
                    .write.parquet(f"{scratch}/fresh_linked")
            with tracer.span("pipeline.canonicalize"):
                merged = read(f"{scratch}/kept").unionByName(
                    read(f"{scratch}/fresh_linked"))
                canonicalize_nils(merged).write.parquet(f"{scratch}/canon")
            with tracer.span("pipeline.triples"):
                write_triples(emit_triples(read(f"{scratch}/canon")),
                              out_dir)
        return {"out_dir": out_dir}

    def gold(self):
        if self._gold is None:
            self._gold = self.spark.read.parquet(
                f"{self.inputs}/gold_triples")
        return self._gold

    def rebuild(self) -> dict:
        """Fingerprint of a full generation-2 rebuild (``run_pipeline``),
        computed once per input set and cached beside the inputs.  It
        is first needed by the check of the first refresh, after every
        timed operation it could shift."""
        from neleval_spark.pipeline import kb_table
        from neleval_spark.pipeline.run import (
            release_materialized, run_pipeline)

        path = f"{self.inputs}/rebuild.json"
        if self._rebuild is None and not os.path.exists(path):
            out_dir = os.path.join(self.run_dir, "rebuild")
            res = run_pipeline(self.spark.read.parquet(
                f"{self.inputs}/pages2"), kb_table(self.spark), out_dir)
            release_materialized(res["mentions"])
            fp = triple_set_hash(self.spark, out_dir)
            shutil.rmtree(out_dir)
            tmp = f"{path}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(fp, f)
            os.replace(tmp, path)
        if self._rebuild is None:
            with open(path) as f:
                self._rebuild = json.load(f)
        return self._rebuild

    def check(self, out: dict) -> tuple[list[str], float | None]:
        """A refresh must equal the full rebuild and reach P/R >= 0.95
        against gold.  Returns (errors, triple F1); the linking
        operation is checked through the refreshes that reuse it."""
        from neleval_spark.pipeline.run import triple_prf
        from neleval_spark.pipeline.triples import read_triples

        if "out_dir" not in out:
            return [], None
        out_dir = out["out_dir"]
        errors = []
        fp = triple_set_hash(self.spark, out_dir)
        if fp != self.rebuild():
            errors.append(f"triple set {fp} != full rebuild {self.rebuild()}")
        prf = triple_prf(read_triples(self.spark, out_dir), self.gold())
        if prf["precision"] < MIN_PR or prf["recall"] < MIN_PR:
            errors.append(f"triple P/R below {MIN_PR}: {prf}")
        shutil.rmtree(out_dir, ignore_errors=True)
        return errors, prf["fscore"]

    def docs(self) -> int:
        return self.n_pages

    def layer_ratios(self, out: dict, layers: dict, scratch: str) -> dict:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        diff = {r["status"]: r["n"] for r in read(f"{scratch}/diff")
                .groupBy("status").agg(F.count("*").alias("n")).collect()}
        n_new = sum(v for k, v in diff.items() if k != "removed")
        fresh_pages = read(f"{scratch}/fresh_pages") \
            .where(F.col("lang") == "en").count()
        n_mentions = read(f"{scratch}/mentions").count()
        lk = read(f"{scratch}/fresh_linked").agg(
            F.count("*").alias("n"),
            F.sum(F.size("candidates")).alias("c"),
            F.sum(F.col("eid").isNotNull().cast("long")).alias("l"),
        ).collect()[0]
        nil = read(f"{scratch}/canon").where(F.col("eid").startswith("NIL")) \
            .select("eid").distinct().count()
        files = sum(len([f for f in fs if f.endswith(".parquet")])
                    for _, _, fs in os.walk(
                        os.path.join(out["out_dir"], "triples")))
        return {
            "pipeline.ner.mentions_per_page":
                n_mentions / fresh_pages if fresh_pages else 0.0,
            "pipeline.candidates.cands_per_mention":
                lk["c"] / lk["n"] if lk["n"] else 0.0,
            "pipeline.candidates.linked_frac":
                lk["l"] / lk["n"] if lk["n"] else 0.0,
            "pipeline.canonicalize.nil_clusters": float(nil),
            "pipeline.triples.files_written": float(files),
            "pipeline.incremental.reuse_frac":
                diff.get("unchanged", 0) / n_new if n_new else 0.0,
        }
