"""osm_addr_bot_spark — a PySpark-native spatial-join + tiling engine.

Re-implements the query semantics of the reference changeset-validation
bot (Zaczero/osm-addr-bot, read-only at /root/reference) as an idiomatic
Spark DataFrame program over an Iceberg-style table of interleaved
text+media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

The reference compiles every spatial operator to OverpassQL and lets a
remote server execute it (reference overpass.py:92-151). This engine
internalizes those operators as native Spark stages:

  * duplicate-address radius join (100 m)  -> hex-cell k-ring hash join
  * place containment / proximity (10 km)  -> cell-cover PIP + radius join
  * tiered street-name search (0.5/1/3 km) -> one 3 km semi/anti join
  * historical guilt diff                  -> as-of join + map diff
  * raster tile assignment                 -> native XYZ slippy-map exprs

The three radius searches share one primitive, ``geo.join.radius_join``.

plus a training-data-pipeline suite (dedup, similarity search, text
analysis) under `datapipe/`.

Design rules (see SURVEY.md):
  - DataFrame/SQL first; Catalyst does pushdown/pruning/join selection.
  - Native expressions on the hot path: hex/S2 cell math, PIP and the
    distance refine run in the JVM, no Python. The S2 encode and the
    PIP ray-cast are ``aggregate`` folds, which Spark 4.1.2 evaluates
    interpreted (``CodegenFallback``); the rest is whole-stage codegen.
    Report messages are composed natively too: the pipeline runs no
    Python UDF and starts no Python worker.
  - Explicit partitioning: spatial shuffles key on cell ids (J1 also on
    the address quintuple, which spreads dense cells), AQE skew-join is
    the backstop, small dims are broadcast.
"""

__version__ = "0.1.0"
