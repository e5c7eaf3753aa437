"""Training-data-pipeline operators over document/embedding tables.

First-class components beyond the reference's own operators (task
brief): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
similarity search (brute-force + LSH-bucketed ANN), and text analysis
(language-ID, quality, tokens, fingerprints).

Design rule shared by all of them: every hash is md5-derived so the
DuckDB oracle can reproduce results bit-for-bit (Spark's hash() and
DuckDB's hash() differ; md5 agrees everywhere).
"""

from osm_addr_bot_spark.datapipe import dedup, recipes, similarity, text  # noqa: F401
