"""synth_docs builds bench.py's web-text corpus; pin it so that moving or
editing the generator cannot silently change the benchmarked data."""

from __future__ import annotations

import hashlib


def test_synth_docs_pinned(spark):
    import jobs.headroom
    from geoharvest_spark import synth

    assert jobs.headroom.synth_docs is synth.synth_docs
    assert jobs.headroom.doc_text_expr is synth.doc_text_expr
    rows = synth.synth_docs(spark, 2000).collect()
    lines = sorted(f"{r.doc_id}\t{r.text}" for r in rows)
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    assert len(rows) == 2000
    assert digest == "cf8d594c0ed1aef246fb21188d9d7549"
