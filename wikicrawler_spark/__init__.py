"""wikicrawler_spark — a from-scratch PySpark-native reimplementation of the
data-processing capabilities of GRAYgoose124/wikicrawler (reference read-only
at /root/reference/).

The engine is DataFrame/SQL-first: extraction is one fused, Arrow-batched
``mapInArrow`` kernel (no per-row Python UDFs anywhere); everything
relational (joins, aggregations, windows, top-k, dedup) is native Catalyst.
The recursive crawl of the reference is re-expressed as iterative
bounded-shuffle frontier expansion with Bloom-filter dedup and salted
repartitioning (see ``frontier.py``).

Layout (mirrors SURVEY.md §7):
  schemas.py       canonical StructTypes (docs/spans/visited/lineage/metrics)
  corpus.py        deterministic synthetic interleaved-doc generator
  html_tokenizer.py streaming regex HTML tokenizer used by the kernel
  kernel.py        the vectorized extraction kernel (mapInArrow)
  extract_job.py   scan -> anti-join visited -> salted repartition -> kernel
  bloom.py         NativeBloom: JVM-built, codegen-probed Bloom filter
  frontier.py      iterative frontier BFS with checkpoint/resume
  analytics.py     word-freq / LLR collocations / argmax / slicing (native)
  similarity.py    jaro-winkler most-similar (vectorized pandas UDF)
  sentiment.py     deterministic lexicon sentiment scorer
  latexconv.py     LaTeX -> unicode paragraph transform
  pipeline/        training-data ops: dedup, simsearch, text quality, multimodal
"""

__version__ = "0.1.0"
