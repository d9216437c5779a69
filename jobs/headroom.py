"""Re-export of the word-salad document generators, which live in
geoharvest_spark.synth; bench.py imports ``synth_docs`` from here."""

from geoharvest_spark.synth import doc_text_expr, synth_docs

__all__ = ["doc_text_expr", "synth_docs"]
