"""sea_express_customs_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference customs-clearance ETL system
(``alumi136/sea-express-customs-etl``): manifest/declaration ingestion
(XML, zip-of-XML, Excel/CSV with header offsets), key-linking,
positional alignment, majority-vote knowledge extraction — plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB deployment needs.

Everything is expressed declaratively with the DataFrame API so Catalyst
performs column pruning, predicate pushdown and join planning; Python
UDFs appear only where semantics genuinely require them (Unicode NFKC,
zip/Excel parsing) and always as Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"
