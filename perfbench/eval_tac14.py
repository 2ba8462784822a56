"""eval_tac14: score a perturbed system against gold with the tac14
measures, then a bootstrap CI and a permutation test against a second,
independently perturbed system.  Exercises ``sources``, ``measures``
and ``stats``; none of ``pipeline``."""

from __future__ import annotations

import importlib.util
import json
import os
import random
import time

from . import oracle

N_DOCS = 500
N_TRIALS = 2500
SIG_MEASURE = "strong_link_match"
TOL = 1e-10
SET_NAMES = tuple(oracle.SET_MEASURES)
CLUSTER_NAMES = tuple(oracle.CLUSTERING_MEASURES)


def _repo_generator(root: str):
    """``generate`` from scripts/bench_vs_reference.py: gold plus one
    perturbed system TSV (~10 mentions/doc)."""
    path = os.path.join(root, "scripts", "bench_vs_reference.py")
    spec = importlib.util.spec_from_file_location("_bench_vs_ref", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.generate, mod.TYPES


def _perturb(gold_path: str, out_path: str, seed: int, types) -> None:
    """A second system, perturbed from the same gold with the same
    rates as the repo generator (5% missed, 5% relinked, 5% retyped,
    5% spurious) but from its own random stream.  Spurious spans sit
    past every gold span so no key repeats."""
    rng = random.Random(seed)
    spurious = 10_000_000
    with open(gold_path) as g, open(out_path, "w") as s:
        for line in g:
            docid, start, end, kbid, score, t = line.rstrip("\n").split("\t")
            r = rng.random()
            if r >= 0.05:
                if r < 0.10:
                    kbid = f"E{rng.randint(1, 2000):05d}"
                elif r < 0.15:
                    t = rng.choice(types)
                s.write(f"{docid}\t{start}\t{end}\t{kbid}\t{score}\t{t}\n")
            if rng.random() < 0.05:
                spurious += 20
                s.write(f"{docid}\t{spurious}\t{spurious + 5}\t"
                        f"E{rng.randint(1, 2000):05d}\t1.0\t"
                        f"{rng.choice(types)}\n")


def prepare(root: str, cache_dir: str, seed: int, n_docs: int) -> None:
    """Write gold.tsv, system.tsv, system2.tsv and the oracle's tac14
    scores (meta.json) into ``cache_dir``.  Pure Python, no Spark."""
    generate, types = _repo_generator(root)
    generate(cache_dir, n_docs, seed=seed)
    _perturb(f"{cache_dir}/gold.tsv", f"{cache_dir}/system2.tsv",
             seed * 7919 + 1, types)
    expected = oracle.tac14(oracle.read_tsv(f"{cache_dir}/system.tsv"),
                            oracle.read_tsv(f"{cache_dir}/gold.tsv"))
    with open(f"{cache_dir}/meta.json", "w") as f:
        json.dump({"n_docs": n_docs, "expected": expected}, f)


class Workload:
    name = "eval_tac14"
    # one operation per run: the cold answer a one-shot evaluation
    # pays; a warm one would cost another ~25 s per run
    warm_ops = 0

    def __init__(self, spark, inputs: str, run_dir: str):
        self.spark = spark
        self.inputs = inputs
        with open(f"{inputs}/meta.json") as f:
            meta = json.load(f)
        self.n_docs = meta["n_docs"]
        self.expected = meta["expected"]
        self.first_sig = None

    def _read(self, which: str):
        from neleval_spark.sources.tsv import read_annotations_tsv

        return read_annotations_tsv(self.spark, f"{self.inputs}/{which}.tsv")

    def run_op(self) -> tuple[float, dict]:
        """One evaluator answer from TSV paths: tac14 scores, a CI for
        system 1 and a permutation test system 1 vs system 2."""
        from neleval_spark.measures import evaluate
        from neleval_spark.stats.significance import (
            bootstrap_confidence, per_doc_contingency, permutation_test)

        t0 = time.perf_counter()
        sys1, sys2, gold = (self._read(w)
                            for w in ("system", "system2", "gold"))
        scores = evaluate(sys1, gold, measures="tac14")
        pd1 = per_doc_contingency(sys1, gold, SIG_MEASURE)
        pd2 = per_doc_contingency(sys2, gold, SIG_MEASURE)
        ci = bootstrap_confidence(pd1, n_trials=N_TRIALS)
        perm = permutation_test(pd1, pd2, n_trials=N_TRIALS)
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return wall, {"scores": scores, "sig": {"ci": ci, "perm": perm}}

    cold_op = run_op

    def run_traced_op(self, tracer, scratch: str) -> dict:
        """The same answer, layer by layer: each layer's output is
        written to scratch parquet before the next layer reads it."""
        from neleval_spark.measures import evaluate
        from neleval_spark.stats.significance import (
            bootstrap_confidence, per_doc_contingency, permutation_test)

        spark = self.spark
        with tracer.span("op"):
            with tracer.span("sources.tsv"):
                for which in ("gold", "system", "system2"):
                    self._read(which).write.parquet(f"{scratch}/{which}")

            sys1, sys2, gold = (spark.read.parquet(f"{scratch}/{w}")
                                for w in ("system", "system2", "gold"))
            with tracer.span("measures.sets"):
                scores = evaluate(sys1, gold, measures=list(SET_NAMES))
            with tracer.span("measures.clustering"):
                scores.update(evaluate(sys1, gold,
                                       measures=list(CLUSTER_NAMES)))
            with tracer.span("stats.significance"):
                pd1 = per_doc_contingency(sys1, gold, SIG_MEASURE)
                pd2 = per_doc_contingency(sys2, gold, SIG_MEASURE)
                ci = bootstrap_confidence(pd1, n_trials=N_TRIALS)
                perm = permutation_test(pd1, pd2, n_trials=N_TRIALS)
        spark.catalog.clearCache()
        return {"scores": scores, "sig": {"ci": ci, "perm": perm}}

    def check(self, out: dict) -> tuple[list[str], float]:
        """Every tac14 P/R/F against the oracle; CI bounds and p-values
        identical across operations.  Returns (errors,
        strong_link_match F1)."""
        errors = []
        for name in oracle.TAC14:
            got = out["scores"].get(name)
            if got is None:
                errors.append(f"{name}: missing from engine output")
                continue
            for k in ("precision", "recall", "fscore"):
                want = self.expected[name][k]
                if abs(got[k] - want) > TOL:
                    errors.append(f"{name}.{k}: engine {got[k]!r} "
                                  f"oracle {want!r}")
        sig = json.loads(json.dumps(out["sig"]))
        if self.first_sig is None:
            self.first_sig = sig
        elif sig != self.first_sig:
            errors.append("CI bounds or p-values differ between operations")
        return errors, out["scores"].get(SIG_MEASURE, {}).get("fscore", 0.0)

    def docs(self) -> int:
        return self.n_docs

    def layer_ratios(self, out: dict, layers: dict, scratch: str) -> dict:
        sig = layers.get("stats.significance", {})
        wall = sig.get("self_s", 0.0)
        # bootstrap: one pass of N_TRIALS over system-1 docs;
        # permutation: one pass of N_TRIALS over the paired docs
        doc_trials = 2 * N_TRIALS * self.n_docs
        return {"stats.significance.doc_trials_per_s":
                doc_trials / wall if wall else 0.0}
