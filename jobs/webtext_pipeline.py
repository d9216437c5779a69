"""End-to-end web-corpus curation demo under spark-submit.

Synthesizes an HTML page corpus with planted pathologies (duplicate
canonical URLs, exact-duplicate documents, benchmark contamination),
runs geoharvest_spark.curation.curate, and prints one JSON line of
per-stage row accounting plus per-split counts.

Usage:
    spark-submit --driver-memory 48g --py-files ghs.zip \
        jobs/webtext_pipeline.py [n_docs] [out_dir] [full] [warc]

Flags (3rd arg onward, any order): "full" enables the optional stages
(per-domain cap + PII scrub + LM perplexity filter trained on the bench
slice) — note the synthetic corpus shares ONE registered domain
(example.com), so the cap bounds the whole run. "warc" routes the
corpus through byte-accurate WARC files first (crawl-archive ingest
mode: build -> parse -> curate).

--driver-memory matters under spark-submit: the driver JVM starts before
get_spark's conf applies, and the default 1g cannot build the pipeline's
broadcast sides. out_dir defaults to a fresh tempdir and is the job's
DELIVERABLE (the curated, split corpus) — pass a real path to keep it,
or clean /tmp/webtext_corpus_* between throwaway runs.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geoharvest_spark.curation import curate  # noqa: E402
from geoharvest_spark.session import get_spark  # noqa: E402
from geoharvest_spark.synth import doc_text_expr, synth_docs  # noqa: E402


def synth_pages(spark, n: int):
    """HTML pages with planted mess: 20% of URLs are canonical dups of an
    earlier page (same base, different tracking/fragment noise) and every
    97th document's text is an exact copy of its predecessor."""
    docs = synth_docs(spark, n)
    docs = docs.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 97 == 0) & (F.col("doc_id") > 0),
            # exact duplicate of the previous doc's text (same generator)
            doc_text_expr(F.col("doc_id") - 1),
        ).otherwise(F.col("text")),
    )
    base = F.col("doc_id") % (n * 4 // 5)
    url = F.concat(
        F.lit("HTTPS://WWW.Corpus"),
        (base % 31).cast("string"),
        F.lit(".example.com:443/doc/"),
        base.cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=crawl&fbclid="),
        F.col("doc_id").cast("string"),
        F.lit("#top"),
    )
    html = F.concat(
        F.lit(
            "<html><head><title>Page</title><style>p{}</style>"
            "<script>track();</script></head><body>"
            "<nav>Home &gt; Corpus</nav><p>"
        ),
        F.col("text"),
        F.lit("</p><!-- crawler --><footer>&copy; corp</footer></body></html>"),
    )
    return docs.select("doc_id", url.alias("url"), html.alias("html"))


def pages_via_warc(spark, pages):
    """Crawl-archive ingest mode: the page corpus is composed into
    byte-accurate WARC 1.0 files (one per 256 pages — the shape crawl
    corpora actually arrive in) and parsed back via
    geoharvest_spark.warc, re-deriving doc_id from the planted fbclid
    tracking param. Downstream curation is identical — proving a user
    whose corpus arrives as web archives runs this pipeline end to end."""
    from geoharvest_spark import warc as wc

    def _build(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        recs = [
            (u, "2024-01-01T00:00:00Z", h.encode())
            for u, h in zip(pdf["url"], pdf["html"])
        ]
        return pd.DataFrame(
            [{"file_id": fid, "payload": wc.build_warc_file(recs, fid)}]
        )

    files = (
        pages.withColumn("file_id", F.expr("doc_id div 256"))
        .groupBy("file_id")
        .applyInPandas(_build, "file_id long, payload binary")
    )
    recs = wc.parse_warc_records(files)
    return recs.where(
        F.col("ok") & (F.col("warc_type") == "response")
    ).select(
        F.regexp_extract("target_uri", "fbclid=([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("webtext_pipeline", cores="32")
    pages = synth_pages(spark, n)
    flags = set(sys.argv[3:])
    if "warc" in flags:
        pages = pages_via_warc(spark, pages)
    # benchmark set: held-out synthetic evals PLUS every 199th corpus doc
    # (planted contamination the decontam stage must catch)
    bench = synth_docs(spark, 2_000).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    ).unionByName(
        synth_docs(spark, n).where(F.col("doc_id") % 199 == 7)
    )
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="webtext_corpus_")
    )
    # robots: every corpus domain disallows /doc/1 (prefix-matches ~11% of
    # paths) for user-agent *, with a decoy non-* section
    from geoharvest_spark.webops import with_canonical_url

    robots = (
        with_canonical_url(pages)
        .select("domain")
        .distinct()
        .select(
            "domain",
            F.lit(
                "User-agent: badbot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /doc/1"
            ).alias("robots_txt"),
        )
    )
    full = "full" in flags
    cfg = None
    if full:
        from geoharvest_spark.curation import CurationConfig
        from geoharvest_spark.lm import train_bigram_lm

        # perplexity model on trusted text (the bench slice here —
        # NEVER the corpus being filtered); generous threshold so the
        # demo drops the tail without emptying the synthetic corpus
        lm_model = train_bigram_lm(
            [r["text"] for r in bench.limit(100).collect()]
        )
        cfg = CurationConfig(
            domain_cap=max(1000, n * 9 // 10),
            redact_pii=True,
            lm_max_avg_cost=20_000_000.0,
            lm_model=lm_model,
            # model-based quality gate: the synthetic corpus has no
            # planted spam, so a permissive floor exercises the stage
            # without emptying the run (unseen features score 0)
            qmodel_min_score=0,
        )
    t0 = time.perf_counter()
    final, rep = curate(
        spark, pages, bench, out_dir, cfg=cfg, robots=robots
    )
    elapsed = round(time.perf_counter() - t0, 2)
    splits = {
        r["split"]: r["n"]
        for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "job": "webtext_pipeline",
                "n_pages": n,
                "warc_ingest": "warc" in flags,
                "stages": rep.stages,
                "splits": splits,
                "sec": elapsed,
                "docs_per_sec": round(n / elapsed, 1),
                "out_dir": out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
