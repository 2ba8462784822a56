"""Construction pipeline (BASELINE.json north_rule): extraction
byte-identity, end-to-end triple P/R ≥ 0.95 vs the constructed gold,
neleval-measure agreement, NIL canonicalization stability, and
checkpoint-resume."""

import os

import pytest

from pyspark.sql import functions as F

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    from neleval_spark.pipeline import synth_corpus

    return synth_corpus(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def gold(spark):
    from neleval_spark.pipeline import synth_gold_mentions

    return synth_gold_mentions(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def built(spark, corpus):
    from neleval_spark.pipeline import kb_table
    from neleval_spark.pipeline.run import build_mentions

    return build_mentions(corpus, kb_table(spark)).cache()


def test_extraction_byte_identical(spark, corpus):
    """UDF-extracted text equals the stored per-url text byte-for-byte
    (the input_hint invariant)."""
    from neleval_spark.pipeline.extract import with_extracted_text

    re_extracted = with_extracted_text(
        corpus.select("url", "html", F.col("text").alias("stored")),
        out_col="roundtrip",
    )
    mismatches = re_extracted.where(
        F.col("roundtrip") != F.col("stored")).count()
    assert mismatches == 0


def test_extraction_pure_function(corpus):
    """Driver-side pure function agrees with the distributed UDF on a
    sample (locale/batching independence)."""
    from neleval_spark.pipeline.extract import extract_text

    for row in corpus.limit(20).collect():
        assert extract_text(row["html"]) == row["text"]


def test_ner_finds_exactly_gold_spans(spark, corpus, gold):
    from neleval_spark.pipeline.ner import detect_mentions

    found = detect_mentions(
        corpus.where(F.col("lang") == "en")).select(
        "url", "start", "end", "surface")
    exp = gold.select("url", "start", "end", "surface")
    assert found.exceptAll(exp).count() == 0
    assert exp.exceptAll(found).count() == 0


def test_fused_extract_and_detect_equals_two_step(spark, corpus):
    """The fused html → mentions hop tags exactly what extracting the
    text first and tagging it separately does, row for row."""
    from neleval_spark.pipeline import kb_table
    from neleval_spark.pipeline.extract import with_extracted_text
    from neleval_spark.pipeline.ner import (
        detect_mentions, extract_and_detect, gazetteer_from_kb)

    pages = corpus.select("url", "html")
    gaz = gazetteer_from_kb(kb_table(spark))
    fused = extract_and_detect(pages, gazetteer=gaz).collect()
    two_step = detect_mentions(with_extracted_text(pages),
                               gazetteer=gaz).collect()
    assert fused
    assert sorted(map(tuple, fused)) == sorted(map(tuple, two_step))


def test_triple_prf_gate(spark, built, gold):
    """North-rule gate: P/R ≥ 0.95 vs the reference triple set."""
    from neleval_spark.pipeline.run import (
        gold_triples_from_mentions, triple_prf)
    from neleval_spark.pipeline.triples import emit_triples

    sys_t = emit_triples(built)
    gold_t = gold_triples_from_mentions(gold)
    res = triple_prf(sys_t, gold_t)
    assert res["precision"] >= 0.95, res
    assert res["recall"] >= 0.95, res


def test_neleval_measures_on_pipeline(spark, built, gold):
    """Evaluate the pipeline with the measure engine: the distributed
    strong_link_match / strong_typed_all_match / mention_ceaf / b_cubed
    must be perfect on the constructed corpus (the system resolves all
    planted ambiguity by context)."""
    from neleval_spark.measures import evaluate
    from neleval_spark.pipeline.run import to_neleval_mentions

    sys_m = to_neleval_mentions(built)
    gold_m = to_neleval_mentions(
        gold.select("url", "start", "end", "eid", "type", "sent_uid")
        .withColumn("score", F.lit(1.0))
        .withColumn(
            "candidates",
            F.array(
                F.struct(
                    F.col("eid"), F.col("score"), F.col("type"),
                    F.lit(None).cast("map<string,string>").alias("attrs"),
                )
            ),
        )
    )
    res = evaluate(
        sys_m, gold_m,
        measures=["strong_link_match", "strong_typed_all_match",
                  "mention_ceaf", "b_cubed"],
    )
    for name, r in res.items():
        assert r["fscore"] == 1.0, (name, r)


def test_nil_ids_match_gold_labels(spark, built, gold):
    """Canonicalizer emits the same deterministic NIL labels as the
    gold generator (pure function of the cluster's surfaces)."""
    sys_nils = built.where(F.col("eid").startswith("NIL")) \
        .select("url", "start", "eid")
    gold_nils = gold.where(F.col("eid").startswith("NIL")) \
        .select("url", "start", F.col("eid").alias("gold_eid"))
    j = sys_nils.join(gold_nils, ["url", "start"], "full_outer")
    assert j.where(
        F.col("eid").isNull() | F.col("gold_eid").isNull()
        | (F.col("eid") != F.col("gold_eid"))).count() == 0


def test_write_resume(spark, built, tmp_path):
    """Checkpoint-resume: a partial write (half the partitions'
    manifests) resumed to completion equals a single-shot write."""
    from neleval_spark.pipeline.triples import (
        emit_triples, read_triples, write_triples)

    triples = emit_triples(built, n_buckets=8).cache()

    full_dir = str(tmp_path / "full")
    write_triples(triples, full_dir, resume=False)
    full = read_triples(spark, full_dir)

    part_dir = str(tmp_path / "partial")
    first_half = triples.where(F.col("part_id") < 4)
    write_triples(first_half, part_dir, resume=False)
    # resume with the complete dataset: parts 0-3 must be skipped
    manifest = write_triples(triples, part_dir, resume=True)
    resumed = read_triples(spark, part_dir)

    assert resumed.count() == full.count()
    assert resumed.exceptAll(full).count() == 0
    # manifest covers every bucket exactly once
    counts = manifest.groupBy("part_id").count().collect()
    assert all(r["count"] == 1 for r in counts)
    assert len(counts) == triples.select("part_id").distinct().count()


def test_write_one_file_per_bucket(spark, built, tmp_path):
    """The sink must not exhibit the partitionBy small-files
    explosion: an upstream frame with MANY partitions still lands
    exactly one parquet file per occupied (run, part_id) bucket
    (write_triples repartitions on part_id before the write; the
    round-5 merge probe measured 2,752 files for one 5.5M-row
    generation without this)."""
    import glob

    from neleval_spark.pipeline.triples import emit_triples, write_triples

    triples = emit_triples(built, n_buckets=8).repartition(16)

    out = str(tmp_path / "batch")
    write_triples(triples, out, resume=False)
    for d in glob.glob(f"{out}/triples/part_id=*"):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    out2 = str(tmp_path / "run")
    write_triples(triples, out2, resume=False, run_id="gen-000001",
                  overwrite_run=True)
    for d in glob.glob(f"{out2}/triples/run_id=*/part_id=*"):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_canonicalize_hub_surface_skew(spark):
    """Hub-entity skew (north_rule): one NIL surface appearing in a
    large share of all documents must not blow up canonicalization.
    The design answer is contract-then-iterate — the CC loop runs on
    the KEY graph (distinct surface/acronym keys), so a surface in
    100% of docs contributes exactly the same graph size as one in a
    single doc; the mention-side work is one hash aggregation plus a
    broadcast-able label join."""
    import pyspark.sql.functions as F

    from neleval_spark.pipeline.canonicalize import (
        acronym_key, canonicalize_nils, surface_key)

    n = 20_000
    # 60% hub surface, 40% spread over 50 rare surfaces
    base = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit(0).alias("start"), F.lit(5).alias("end"),
        F.when(F.col("id") % 5 < 3, F.lit("Hub Corp Global"))
        .otherwise(F.concat(F.lit("Rare Co "),
                            (F.col("id") % 50).cast("string")))
        .alias("surface"),
        F.lit(None).cast("string").alias("eid"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("string").alias("type"),
    )
    out = canonicalize_nils(base).cache()
    assert out.count() == n
    # every mention got a deterministic NIL label; the hub surface maps
    # to ONE cluster id
    hub = (out.where(F.col("surface") == "Hub Corp Global")
           .select("eid").distinct().collect())
    assert len(hub) == 1 and hub[0]["eid"].startswith("NIL")
    # key-graph size is O(distinct surfaces), not O(mentions): the
    # distinct key count bounds the CC input regardless of skew
    keys = base.select(
        surface_key(F.col("surface")).alias("s"),
        acronym_key(F.col("surface")).alias("a")).distinct()
    assert keys.count() <= 51  # 51 distinct surfaces, whatever the skew
    spark.catalog.clearCache()


def test_dedupe_snapshots_drops_recrawls(spark, corpus, built):
    """A recrawled corpus (every url duplicated with an OLDER
    warc_ts and junk html) must produce the same mention table as
    the clean corpus when dedupe_snapshots=True."""
    from pyspark.sql import functions as F

    from neleval_spark.pipeline import kb_table
    from neleval_spark.pipeline.run import build_mentions

    stale = (corpus
             .withColumn("warc_ts",
                         F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
             .withColumn("html",
                         F.encode(F.lit("<html>stale</html>"),
                                  "utf-8")))
    recrawled = corpus.unionByName(stale)
    deduped = build_mentions(recrawled, kb_table(spark),
                             dedupe_snapshots=True)
    want = built.select("url", "start", "end", "eid").collect()
    got = deduped.select("url", "start", "end", "eid").collect()
    assert sorted(map(str, got)) == sorted(map(str, want))


def test_chain_mentions(spark):
    """Single-token anaphors chain to the EARLIEST same-doc multi-word
    antecedent by last token or acronym; multi-word mentions and
    unmatched singles pass through with the -1 sentinel; chaining
    never crosses documents."""
    from neleval_spark.pipeline.canonicalize import chain_mentions

    rows = [
        # d1: full name, then last-token anaphor, then acronym anaphor
        ("d1", 0, 11, "Barack Obama"),
        ("d1", 50, 54, "Obama"),
        ("d1", 90, 104, "Red Sable Group"),
        ("d1", 200, 202, "RSG"),
        # later full mention must NOT capture the earlier anaphor,
        # and the EARLIEST antecedent wins for a later anaphor
        ("d1", 300, 311, "Michele Obama"),
        ("d1", 400, 404, "Obama"),
        # unmatched single token: sentinel
        ("d1", 500, 504, "Plaza"),
        # d2: same surface as d1's anaphor, but no antecedent here
        ("d2", 0, 4, "Obama"),
    ]
    d = spark.createDataFrame(
        rows, "url string, start long, end long, surface string")
    out = chain_mentions(d)
    got = {(r["url"], r["start"]): (r["chain_surface"],
                                    r["antecedent_start"])
           for r in out.collect()}
    assert len(got) == len(rows)
    assert got[("d1", 50)] == ("Barack Obama", 0)
    assert got[("d1", 200)] == ("Red Sable Group", 90)
    # earliest antecedent wins (Barack at 0, not Michele at 300)
    assert got[("d1", 400)] == ("Barack Obama", 0)
    # multi-word mentions and unmatched singles pass through
    assert got[("d1", 0)] == ("Barack Obama", -1)
    assert got[("d1", 300)] == ("Michele Obama", -1)
    assert got[("d1", 500)] == ("Plaza", -1)
    # no cross-document chaining
    assert got[("d2", 0)] == ("Obama", -1)
