"""Deterministic synthetic Common-Crawl-style corpus.

Generates the BASELINE.json input table ``(url, warc_ts, html, text,
lang)`` *inside Spark* (``spark.range`` → ``mapInPandas``), embedding
known KB aliases and NIL distractors into templated sentences so that
gold mentions, links and triples are derivable by construction
(FIXTURES.md §1). One pure generator function is shared by the corpus
pass and the gold pass, so both scale out and stay consistent.

The invariant the extraction stage is graded on — *byte-identical
extracted text per url* — holds by construction:
``extract_text(html_of(text)) == text`` exactly.
"""

from __future__ import annotations

import datetime
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 42

# ---------------------------------------------------------------------------
# A small knowledge base. Ambiguous aliases ("Apex", "Mercury") resolve
# via context keywords; every entity also has a unique alias.
# ---------------------------------------------------------------------------
KB = [
    # eid, canonical, aliases, type, prior, context keyword
    ("E001", "Apex Software", ["Apex Software", "Apex"], "ORG", 0.7, "software"),
    ("E002", "Apex Mountain", ["Apex Mountain", "Apex"], "LOC", 0.3, "summit"),
    ("E003", "Mercury Motors", ["Mercury Motors", "Mercury"], "ORG", 0.6, "vehicles"),
    ("E004", "Mercury Observatory", ["Mercury Observatory", "Mercury"], "FAC", 0.4, "telescope"),
    ("E005", "Blue Harbor Bank", ["Blue Harbor Bank", "Blue Harbor"], "ORG", 0.9, "loans"),
    ("E006", "Granite Peak Energy", ["Granite Peak Energy", "Granite Peak"], "ORG", 0.9, "turbines"),
    ("E007", "Lakeview City", ["Lakeview City", "Lakeview"], "GPE", 0.9, "mayor"),
    ("E008", "Port Alden", ["Port Alden"], "GPE", 0.9, "harbor"),
    ("E009", "Nora Veld", ["Nora Veld"], "PER", 0.9, "minister"),
    ("E010", "Tomas Rey", ["Tomas Rey"], "PER", 0.9, "striker"),
    ("E011", "Ivy Chen", ["Ivy Chen"], "PER", 0.9, "chief"),
    ("E012", "Silver Fox Studios", ["Silver Fox Studios", "Silver Fox"], "ORG", 0.9, "animation"),
    ("E013", "Crescent Rail", ["Crescent Rail"], "ORG", 0.9, "freight"),
    ("E014", "Mount Vara", ["Mount Vara"], "LOC", 0.9, "glacier"),
    ("E015", "Delta Quill Press", ["Delta Quill Press", "Delta Quill"], "ORG", 0.9, "novels"),
    ("E016", "Harbor Light Clinic", ["Harbor Light Clinic", "Harbor Light"], "FAC", 0.9, "patients"),
    ("E017", "Kestrel Air", ["Kestrel Air"], "ORG", 0.9, "routes"),
    ("E018", "Rio Marlo", ["Rio Marlo"], "LOC", 0.9, "floods"),
    ("E019", "Juno Park", ["Juno Park"], "FAC", 0.9, "festival"),
    ("E020", "Caldera Institute", ["Caldera Institute", "Caldera"], "ORG", 0.9, "research"),
]

# NIL distractors: capitalized surfaces with no KB entry; same surface
# across documents must land in the same NIL cluster.
DISTRACTORS = [
    "Quiet Elm Company", "Red Sable Group", "Old Mill Cooperative",
    "Green Lantern Cafe", "Hollow Oak Society", "Iron Finch Works",
    "Pale Star Collective", "Dusty Road Traders",
]

# Sentence templates: all non-slot words lowercase so the NER's
# capitalized-run detector fires exactly on the slots. {kw} carries the
# disambiguating context keyword of the first entity slot.
TEMPLATES_2E = [
    "the analysts wrote that {A} agreed to work with {B} on a joint {kw} effort.",
    "according to the filing, {A} will supply {kw} services to {B} next year.",
    "observers noted that {A} and {B} discussed the {kw} plan at length.",
]
TEMPLATES_1E = [
    "a statement from {A} mentioned steady progress on the {kw} program.",
    "local reporters said {A} expanded its {kw} operations again.",
]
TEMPLATES_D = [
    "a spokesperson for {D} declined to comment on the matter.",
    "meanwhile {D} issued a short notice about scheduling.",
]


def gen_doc(doc_id: int, seed: int = SEED, min_sents: int = 2,
            max_sents: int = 4) -> dict:
    """Generate one document (pure, deterministic).

    Returns url/warc_ts/html/text/lang plus the gold mention list
    [(start, end_inclusive, surface, eid, type, sent_uid)] — eids are
    KB ids or 'NIL<surface-derived>' for distractors.
    """
    rng = random.Random((seed << 32) ^ doc_id)
    url = f"https://example.org/crawl/{doc_id:010d}"
    warc_ts = datetime.datetime(2025, 1, 1) + datetime.timedelta(
        minutes=doc_id % 100_000)
    lang = "en" if rng.random() >= 0.02 else rng.choice(["de", "fr"])

    lines = [f"daily brief {doc_id}"]
    mentions = []  # (start, end, surface, eid, type, sent_uid)
    offset = len(lines[0])  # position AFTER the first line (before \n)

    n_sents = rng.randint(min_sents, max_sents)
    sents = []
    for s in range(n_sents):
        kind = rng.random()
        if kind < 0.55:
            tpl = rng.choice(TEMPLATES_2E)
            e1 = rng.choice(KB)
            e2 = rng.choice([e for e in KB if e[0] != e1[0]])
            a1 = rng.choice(e1[2])
            # the context keyword disambiguates slot A only, so slot B
            # always uses the canonical (unambiguous) alias
            a2 = e2[2][0]
            sent = tpl.format(A="\x00A\x00", B="\x00B\x00", kw=e1[5])
            slots = [("\x00A\x00", a1, e1), ("\x00B\x00", a2, e2)]
        elif kind < 0.8:
            tpl = rng.choice(TEMPLATES_1E)
            e1 = rng.choice(KB)
            a1 = rng.choice(e1[2])
            sent = tpl.format(A="\x00A\x00", kw=e1[5])
            slots = [("\x00A\x00", a1, e1)]
        else:
            tpl = rng.choice(TEMPLATES_D)
            d = rng.choice(DISTRACTORS)
            sent = tpl.format(D="\x00D\x00")
            slots = [("\x00D\x00", d, None)]
        sents.append((sent, slots, s))

    # lay out sentences as one paragraph line each, tracking offsets
    for sent, slots, s_idx in sents:
        line_start = offset + 1  # +1 for the joining newline
        rendered = sent
        for marker, surface, ent in slots:
            pos = rendered.index(marker)
            rendered = rendered.replace(marker, surface, 1)
            start = line_start + pos
            end = start + len(surface) - 1  # inclusive end
            if ent is None:
                eid = nil_id_for_surface(surface)
                etype = "ORG"
            else:
                eid, _, _, etype, _, _ = ent
            if lang == "en":
                mentions.append((start, end, surface, eid, etype, s_idx))
        lines.append(rendered)
        offset = line_start + len(rendered) - 1 + 1  # last char pos +1

    text = "\n".join(lines)
    html = _render_html(f"daily brief {doc_id}", lines[1:], doc_id)
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
        "mentions": mentions,
    }


def nil_id_for_surface(surface: str) -> str:
    """Deterministic NIL cluster id from the normalized surface — both
    the gold generator and the canonicalizer derive the same label, so
    NIL triples compare exactly."""
    import hashlib

    norm = surface.strip().lower().replace(" ", "_")
    return "NIL" + hashlib.sha1(norm.encode()).hexdigest()[:10]


def _render_html(title: str, paragraphs: list[str], doc_id: int) -> str:
    """Wrap text in boilerplate the extractor strips exactly."""
    body = "\n".join(f"<p>{p}</p>" for p in paragraphs)
    return (
        "<html><head><title>"
        + title
        + "</title><script>var t=" + str(doc_id) + ";</script>"
        + "<style>.m{margin:0}</style></head>\n"
        + "<body><nav>home | topics | archive</nav>\n"
        + "<h1>" + title + "</h1>\n"
        + body + "\n"
        + "<footer>syndicated feed - all rights reserved</footer>"
        + "</body></html>"
    )


# ---------------------------------------------------------------------------
# Spark-side generation
# ---------------------------------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
GOLD_SCHEMA = ("url string, start long, end long, surface string, "
               "eid string, type string, sent_uid int")


def synth_corpus(spark: SparkSession, n_docs: int, seed: int = SEED,
                 partitions: int | None = None, min_sents: int = 2,
                 max_sents: int = 4) -> DataFrame:
    """Distributed deterministic corpus: one row per doc.

    ``min_sents``/``max_sents`` control document weight — benchmark
    corpora use Common-Crawl-like sizes (tens of paragraphs), tests
    use small ones."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_doc(int(i), seed, min_sents, max_sents)
                    for i in pdf["id"]]
            yield pd.DataFrame(
                [
                    {k: r[k] for k in
                     ("url", "warc_ts", "html", "text", "lang")}
                    for r in rows
                ]
            )

    rng_df = spark.range(n_docs, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


def synth_gold_mentions(spark: SparkSession, n_docs: int,
                        seed: int = SEED,
                        partitions: int | None = None,
                        min_sents: int = 2,
                        max_sents: int = 4) -> DataFrame:
    """Gold mentions for the same corpus (en docs only)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                d = gen_doc(int(i), seed, min_sents, max_sents)
                for start, end, surface, eid, etype, s in d["mentions"]:
                    out.append(
                        {"url": d["url"], "start": start, "end": end,
                         "surface": surface, "eid": eid, "type": etype,
                         "sent_uid": s}
                    )
            yield pd.DataFrame(
                out, columns=["url", "start", "end", "surface", "eid",
                              "type", "sent_uid"])

    rng_df = spark.range(n_docs, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=GOLD_SCHEMA)


def kb_table(spark: SparkSession) -> DataFrame:
    """Alias dictionary dim table — the broadcast side of candidate
    generation: one row per (alias, entity)."""
    rows = [
        (alias, eid, name, etype, prior, kw)
        for eid, name, aliases, etype, prior, kw in KB
        for alias in aliases
    ]
    return spark.createDataFrame(
        rows,
        "alias string, eid string, canonical string, type string, "
        "prior double, keyword string",
    )
