"""Contingency dispatch + evaluation orchestration.

Mirrors the reference control flow: ``Measure.contingency``
(neleval/annotation.py:503-521) dispatches sets / overlap-** /
clustering; ``Matrix`` (neleval/evaluate.py:233-292) is the additive
(ptp, fp, rtp, fn) monoid with derived P/R/F and the zero-denominator
→ 0.0 + warning rule (:279-286); ``Evaluate.__call__``
(neleval/evaluate.py:70-140) adds group-by with per-field macro/micro
averages (:122-138).

The heavy lifting happens in generated DataFrame plans; only the tiny
per-(measure, group) result table is collected.
"""

from __future__ import annotations

import itertools
import warnings
from collections import OrderedDict, defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .catalog import MeasureSpec, get_measure, parse_measures
from .clustering import CLUSTERING_FNS
from .overlap import overlap_contingency
from .sets import project_measure, sets_contingency, expand_key


class StrictMetricWarning(Warning):
    pass


METRICS = ["ptp", "fp", "rtp", "fn", "precision", "recall", "fscore"]


@dataclass
class Matrix:
    """Additive contingency monoid (neleval/evaluate.py:233-292)."""

    ptp: float = 0
    fp: float = 0
    rtp: float = 0
    fn: float = 0

    def __add__(self, other: "Matrix") -> "Matrix":
        return Matrix(self.ptp + other.ptp, self.fp + other.fp,
                      self.rtp + other.rtp, self.fn + other.fn)

    def __iadd__(self, other: "Matrix") -> "Matrix":
        self.ptp += other.ptp
        self.fp += other.fp
        self.rtp += other.rtp
        self.fn += other.fn
        return self

    @staticmethod
    def _div(n, d):
        if d == 0:
            warnings.warn(
                "Strict P/R defaulting to zero score for zero denominator",
                StrictMetricWarning,
            )
            return 0.0
        return n / float(d)

    @property
    def precision(self):
        return self._div(self.ptp, self.ptp + self.fp)

    @property
    def recall(self):
        return self._div(self.rtp, self.rtp + self.fn)

    @property
    def fscore(self):
        p = self.precision
        r = self.recall
        return self._div(2 * p * r, p + r)

    @property
    def results(self) -> dict:
        return {
            "precision": self.precision,
            "recall": self.recall,
            "fscore": self.fscore,
            "ptp": self.ptp,
            "fp": self.fp,
            "rtp": self.rtp,
            "fn": self.fn,
        }


def contingency_df(
    sys_df: DataFrame,
    gold_df: DataFrame,
    spec: MeasureSpec,
    gcols: list[str] | None = None,
) -> DataFrame:
    """→ (gcols..., ptp, fp, rtp, fn) — the measure's generated plan."""
    gcols = list(gcols or [])
    if spec.is_clustering:
        try:
            fn = CLUSTERING_FNS[spec.agg]
        except KeyError:
            raise ValueError(f"Invalid aggregation: {spec.agg!r}")
        from pyspark.sql import functions as F

        key = [k for k in expand_key(spec.key) if k not in gcols]
        # clusters = distinct (eid, key) pairs after filter
        # (neleval/annotation.py:317-331).  Deduplication happens
        # INSIDE the clustering fns (_dedup_pairs: one repartition on
        # the packed key struct, then in-partition dedup and an
        # exchange-free intersection join) — no dropDuplicates here,
        # or the fns would pay an extra full exchange per side.  A
        # shared union+flags dedup (the sets_contingency shape) was
        # also A/B'd in r6 and LOST: the clustering fns read gold/pred
        # from 3-4 consumer subtrees, so the single bigger union
        # aggregate re-executes per consumer past the reused exchange
        # (bench: b_cubed 5.4→6.9 s, reverted).
        gold = project_measure(gold_df, spec, gcols, extra=["eid"])
        pred = project_measure(sys_df, spec, gcols, extra=["eid"])
        out = fn(gold, pred, key, gcols)

        return out.select(
            *gcols,
            F.col("p_num").alias("ptp"),
            (F.col("p_den") - F.col("p_num")).alias("fp"),
            F.col("r_num").alias("rtp"),
            (F.col("r_den") - F.col("r_num")).alias("fn"),
        )
    elif spec.agg == "sets":
        return sets_contingency(sys_df, gold_df, spec, gcols)
    elif spec.agg.startswith("overlap-"):
        return overlap_contingency(sys_df, gold_df, spec, gcols)
    raise ValueError(f"Unexpected value for agg: {spec.agg!r}")


def _group_values(df: DataFrame, fields: list[str]) -> list[list]:
    """Sorted distinct values per group field from GOLD annotations
    (reference uses the gold side only, neleval/evaluate.py:100-103)."""
    from ..operators.normalize import field_col

    out = []
    for f in fields:
        vals = [r[0] for r in
                df.select(field_col(f).alias(f)).distinct().collect()]
        out.append(sorted(vals, key=lambda v: (v is None, v)))
    return out


def macro_average(results_iter) -> dict:
    """(neleval/evaluate.py:295-303) — mean of every metric, counts
    included."""
    out: dict = defaultdict(float)
    i = -1
    for i, results in enumerate(results_iter):
        if isinstance(results, Matrix):
            results = results.results
        for k, v in results.items():
            out[k] += v
    return {k: v / (i + 1) for k, v in out.items()}


def evaluate(
    sys_df: DataFrame,
    gold_df: DataFrame,
    measures="all",
    group_by: list[str] | None = None,
    overall: bool = False,
    weighting: dict | None = None,
) -> "OrderedDict[str, dict]":
    """Distributed analogue of ``neleval evaluate``.

    Returns {measure_name[;field=value...] → {ptp, fp, rtp, fn,
    precision, recall, fscore}} exactly like the reference's
    fmt='none' output (neleval/evaluate.py:70-140).
    """
    names = parse_measures(measures)
    results: "OrderedDict[str, dict]" = OrderedDict()
    gcols = list(group_by or [])

    # Materialize both mention tables once for the whole run (the
    # reference loads annotations into lists the same way).  Without
    # this, every measure re-derives the frames AND — the expensive
    # part — measure FILTERS (is_linked/is_nil) get substituted
    # through the projections by predicate pushdown, inlining the
    # full TSV parse tree dozens of times into one predicate
    # (measured 11× the cost of evaluating the column once).  A
    # cached table makes the derived columns physical, so filters
    # evaluate on columnar data.
    to_unpersist = []
    for df in (sys_df, gold_df):
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            continue
        df.persist()
        to_unpersist.append(df)

    try:
        return _evaluate_measures(sys_df, gold_df, names, gcols,
                                  overall, weighting, results)
    finally:
        for df in to_unpersist:
            df.unpersist()


def _evaluate_measures(sys_df, gold_df, names, gcols, overall,
                       weighting, results):
    if gcols:
        group_vals = _group_values(gold_df, gcols)
        product = list(itertools.product(*group_vals))

    for name in names:
        spec = get_measure(name, weighting=weighting)
        cdf = contingency_df(sys_df, gold_df, spec, gcols)
        rows = cdf.collect()

        if not gcols:
            row = rows[0] if rows else None
            mat = (Matrix(row["ptp"], row["fp"], row["rtp"], row["fn"])
                   if row is not None else Matrix())
            results[str_name(name)] = mat.results
            continue

        by_group = {
            tuple(r[c] for c in gcols):
                Matrix(r["ptp"], r["fp"], r["rtp"], r["fn"])
            for r in rows
        }
        name_fmt = str_name(name) + "".join(
            ";{}={{group[{}]}}".format(f, i) for i, f in enumerate(gcols))

        measure_mats = []
        for group in product:
            # sys-only groups outside the gold product are ignored,
            # as in the reference (evaluate.py:107-115 only indexes
            # product groups)
            mat = by_group.get(tuple(group), Matrix())
            measure_mats.append((group, mat))
            if not overall:
                import json as _json

                label = name_fmt.format(
                    group=[_json.dumps(v) for v in group])
                results[label] = mat.results

        micro_labels = ["<micro>"] * len(gcols)
        constituents: dict = {}
        for i in range(len(gcols)):
            constituents = defaultdict(Matrix)
            for group, mat in measure_mats:
                constituents[group[i]] += mat
            labels = micro_labels[:]
            labels[i] = "<macro>"
            results[name_fmt.format(group=labels)] = macro_average(
                constituents.values())
        results[name_fmt.format(group=micro_labels)] = sum(
            constituents.values(), Matrix()).results

    return results


def str_name(name) -> str:
    return name if isinstance(name, str) else str(name)


def tab_format(results: dict, num_fmt="{:.3f}", delimiter="\t") -> str:
    """(neleval/evaluate.py:185-206)"""
    lines = [delimiter.join([m[:6] for m in METRICS] + ["measure"])]
    for measure, mres in sorted(results.items()):
        row = []
        for metric in METRICS:
            val = mres.get(metric, 0)
            row.append(num_fmt.format(val) if isinstance(val, float)
                       else str(val))
        row.append(measure)
        lines.append(delimiter.join(row))
    return "\n".join(lines)


def read_tab_format(lines) -> dict:
    """Re-ingest ``tab_format`` output (reference:
    Evaluate.read_tab_format, evaluate.py:208-218)."""
    it = iter(lines)
    header = next(it).rstrip()
    expected = "\t".join([m[:6] for m in METRICS] + ["measure"])
    assert header == expected, (
        f"Differing headers: expected {expected!r}, got {header!r}")
    results = {}
    for line in it:
        row = line.rstrip().split("\t")
        measure = row.pop()
        results[measure] = dict(zip(METRICS, map(float, row)))
    return results
