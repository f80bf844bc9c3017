"""Extended batch operators: text, corpus, sketches, time series,
quantiles, quality and relational helpers, plus the posting-list and
latest-state kernels in ``dedup.py`` that several of them share."""
