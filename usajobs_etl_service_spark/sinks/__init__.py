"""Sinks: join-based upsert/merge (S6/J1/A8), JDBC upsert writer,
partitioned and bucketed writers, and the Delta ``MERGE INTO`` path."""
