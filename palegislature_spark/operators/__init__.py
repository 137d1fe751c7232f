"""Composable operator library.

Operators the reference implements imperatively (or that Spark lacks
as a single built-in) re-expressed as DataFrame compositions:

    asof        — as-of / interval joins (apply_edits.py:63-73 shape)
    islands     — gaps-and-islands sessionization (crawl.py:509-530)
    dedup       — exact / n-gram-Jaccard / MinHash-LSH / SimHash dedup
    similarity  — embedding cosine top-k (brute-force, LSH, IVF with
                  persisted build/probe split), SemDeDup semantic dedup
    bpe         — distributed BPE merge training + tokenizer application
    sampling    — deterministic hash splits / stratified downsampling
    quantize    — symmetric int8 embedding quantization
    multimodal  — image/audio/video decode seams over binary columns
    kernels     — the one Arrow-kernel seam (mapInPandas) Python kernels
                  run through: projection, fan-out gate, bounded memo
    er          — blocked fuzzy entity resolution (match_names.py shape)
    merge       — merge-by-key batch writes (the metro_db upsert analogue)
"""
