"""LLM-data-pipeline operators (SURVEY.md §2.11 — north-star additions).

Nothing comparable exists in the reference (Apache Hive has no dedup/ANN/
text-quality operators); these are first-class engine components for
100 TB training-data curation:

- ``dedup``         — exact, normalized, MinHash+LSH banding, n-gram
  Jaccard verification, SimHash fingerprints.
- ``similarity``    — exact top-k cosine (oracle baseline), LSH
  candidates, IVF (coarse centroids, routing, nprobe probing, top-k /
  range search and recall / sweep / traffic reports), product
  quantization, IVF-PQ search and its index lifecycle (build, search,
  frozen-codebook ingest, retrain decision, merge-compact), k-means /
  SemDeDup, filtered and MMR search. Each vector kernel (squared L2,
  label-mean centroids, routing, probing, exact-cosine top-k, PQ
  encoding, ADC scoring, IVF-PQ search) is one shared helper there.
- ``text_analysis`` — token/char stats, quality scoring, language-ID
  heuristic, regex (BPE-ish) tokenization, document fingerprints.
- ``multimodal``    — opaque binary columns with typed metadata; decode /
  feature-extract plumbing as Arrow-batched ``mapInPandas`` (decoders
  stubbed deterministically — no image/audio libs in this environment).
"""
