"""Training-data-pipeline operators around the index: deduplication and
text analysis — the ops a 100 TB web-text corpus pipeline needs beside
BM25 retrieval.  None of them is on the serving path.

Reference analogues: sliding-window simhash+URL dedup
(src/dump_processor.rs:332-391), quality scoring (meme-rater/*).
"""
