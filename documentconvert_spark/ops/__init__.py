"""Extended operator packs: multimodal media, dedup, ANN and skew helpers."""
