from cassabon_spark.streaming.ingest import ingest_stream

__all__ = ["ingest_stream"]
