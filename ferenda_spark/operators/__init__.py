"""Distributed operators: Arrow-UDF extraction stage, relate joins,
graph algorithms, crawl/WARC ingestion, and the dedup and
text operators that entity resolution and linking build on."""
