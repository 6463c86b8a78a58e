"""bisque_spark — a PySpark-native crawl/extract analytics engine.

A from-scratch re-expression of the capabilities of lmmx/bisque (a
Pydantic-based BeautifulSoup fork; see /root/reference) as a distributed
engine: per-document parse/extract/validate semantics become vectorized
Arrow/pandas UDF batch operators over DataFrames, and the surrounding
scrape loop becomes a distributed URL-frontier + fetch scheduler
(exact URL-seen anti-join, per-host politeness windows, robots rules,
priority queue) over Iceberg-style parquet tables.

Spark-first design: DataFrame/SQL plans compiled by Catalyst; Python
appears only inside Arrow-batched pandas UDFs (parse/decode/validate),
never per-row.
"""

__version__ = "0.1.0"
