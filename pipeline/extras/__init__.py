"""Large-scale training-data pipeline operators beyond the reference's
surface: deduplication, similarity search, text analysis. All
DataFrame-first; Python only in Arrow-batched UDFs.
"""
