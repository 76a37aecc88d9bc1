"""Graft payload (BASELINE.json north_rule): PySpark-native caption
quality-filter pipeline over image+caption tables.

The reference tool's profiling-and-validation logic
(`/root/reference/mipqctool/controller/tablereport.py`,
`model/qctypes/*.py`) re-expressed as a keep/drop + scrub pipeline over
``(image_id, bytes, w, h, fmt, caption, phash)`` rows:

* :mod:`codecs`      — one codec per image format (PNG; baseline JPEG,
                       :mod:`jpeg`; lossless VP8L WebP, :mod:`vp8l`),
                       PSNR, perceptual hash.
* :mod:`synth`       — deterministic seeded generator for the input table.
* :mod:`langid`      — character-trigram language ID (fastText stand-in).
* :mod:`perplexity`  — byte-bigram LM perplexity (KenLM stand-in).
* :mod:`scrub`       — regex PII/toxicity caption scrub (pure Catalyst).
* :mod:`rules`       — keep/drop heuristic rule engine (pure Catalyst).
* :mod:`pipeline`    — full pipeline assembly + lineage metrics + salting.
* :mod:`checkpoint`  — per-partition checkpoint/resume orchestrator.
* :mod:`buckets`     — SDXL-style aspect-ratio bucketing + batch assembly.
* :mod:`alignment`   — CLIP-score-style caption-image alignment filter
                       (feature-hashed caption embedding, pure Catalyst).
* :mod:`reference_impl` — independent pandas implementation used as the
                       keep/drop F1 + scrubbed-caption-equality oracle.
"""
