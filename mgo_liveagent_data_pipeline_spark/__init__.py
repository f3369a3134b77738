"""PySpark-native analytics engine with the query and data-processing
capabilities of the LednirNaabus/mgo-liveagent-data-pipeline reference.

The reference is an eager pandas + warehouse-SQL ELT pipeline; this package
re-expresses every operator in its inventory (SURVEY.md §2) as lazy Spark
DataFrame/SQL plans that Catalyst optimizes, plus the large-scale
training-data-pipeline extensions (dedup, similarity search, text analysis,
multimodal plumbing) designed for a 100 TB / 1000-executor envelope.

Layout:
    session     SparkSession factory (AQE, Arrow, executor package shipping)
    schemas     explicit StructTypes for every domain table (K3)
    sources     table/CSV loaders + the partitioned REST DataSource (S1-S5)
    functions   scalar expression library (strings / datetime / json / sim)
    operators   relational + extension operators (joins, aggs, dedup, ANN, …)
    sinks       upsert (staged MERGE), history append, overwrite/append
    enrich      U1 LLM stage (mapInArrow) + U2 geocode w/ fallback
    plans       query/oracle registry — the driver contract surface
    streaming   Structured Streaming formalization of the 6-h batch windows
"""

__version__ = "0.1.0"
