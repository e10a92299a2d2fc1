"""Incremental ingestion: cursor-checkpointed change sync (incremental),
the exactly-once WARC archive sink (warc_stream) and watermarked
event-time windows (windows)."""
