"""Extended batch operators: dedup, similarity, text, corpus, sketches,
time series, quantiles, quality, graph and relational helpers."""
