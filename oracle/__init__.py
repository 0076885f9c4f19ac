"""Query registry and DuckDB oracles: the harness around the library, not
part of it (``oracle.queries``). Executors never import this package;
only ``js_hll_spark/`` ships to them."""
