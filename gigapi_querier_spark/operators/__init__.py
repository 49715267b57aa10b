"""Spark-native operators beyond the reference's own surface: as-of join,
deduplication, similarity search, text analysis, multimodal plumbing,
sessionization.

All operators are DataFrame compositions (JVM-side, codegen-friendly)
except where Python is semantically required — those use Arrow-batched
Pandas UDFs / mapInPandas, never row-at-a-time Python UDFs.
"""
