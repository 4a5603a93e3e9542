"""vcf2df_spark — a from-scratch PySpark-native per-column lightweight
compression engine for multi-turn conversation/agent transcript tables.

Re-imagines the parse→normalize→encode→sink pipeline of mendelics/vcf2df
(reference at /root/reference, Go, single-threaded; see SURVEY.md) as an
idiomatic Spark design:

- typed per-column codecs (dict, rle, fsst, bitpack, frame-of-reference
  delta, raw fallback) implemented as pure numpy kernels, applied via
  vectorized Arrow ``applyInPandas`` — the Spark analogue of the per-type
  encode switch at reference ``converter/formatOutput.go:44-88``;
- statistics-driven codec auto-selection (the analogue of schema inference
  from metadata, reference ``converter/schema.go:17-107``);
- per-partition manifests carrying codec choice, symbol tables, lineage and
  byte counts (the analogue of the Parquet footer key-value metadata written
  at reference ``converter/convert.go:64``);
- bit-identical decode verified by round-trip tests (the analogue of
  reference ``converter/convert_test.go:14-50``).
"""

__version__ = "0.1.0"

from .shipping import install_zip_cache_hook

install_zip_cache_hook()
