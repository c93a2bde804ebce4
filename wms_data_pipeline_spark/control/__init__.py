"""Control plane — watermark and run-log documents written by the driver
(``docs.DocTable``), and the parquet-backed quality-audit table."""
