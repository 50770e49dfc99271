"""Training-data-pipeline operators around the index: deduplication,
text analysis, and the offline embedding library (brute-force/IVF
similarity, balanced k-means, PQ, multimodal decode plumbing) — the
ops a 100 TB web-text corpus pipeline needs beside BM25 retrieval.
None of the embedding ops is on the serving path.

Reference analogues: sliding-window simhash+URL dedup
(/root/reference/src/dump_processor.rs:332-391), CLIP-space
brute-force and IVF search, quality scoring (meme-rater/*).
"""
