"""Benchmark for the polkadot_etl_spark program: see README.md."""
