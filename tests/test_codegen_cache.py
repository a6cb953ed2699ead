"""Generated classes are compiled once per JVM.

Spark caches compiled classes in an LRU keyed on (classloader, source)
that holds ``spark.sql.codegen.cache.maxEntries`` of them, 100 by
default. The api_interactive mix compiles more than that, so with the
default every warm pass recompiled most of its classes (README pitfall
"Spark keeps 100 generated classes per JVM"). The conf is static and
read once per JVM, so the check runs in a fresh process.
"""

from __future__ import annotations

import textwrap

from tests.conftest import REPO, SF_DIR, run_fresh_process


def test_warm_mix_compiles_nothing(tmp_path):
    """A fresh get_spark process runs the api_interactive mix twice
    through the noop sink: the first round compiles more classes than
    Spark's default cache holds, the second compiles none."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO)!r})
        from perfbench.workloads import API_INTERACTIVE
        from polkadot_etl_spark.benchutil import codegen_compiles
        from polkadot_etl_spark.queries import QUERIES
        from polkadot_etl_spark.session import get_spark

        spark = get_spark(app_name="codegen-cache", master="local[2]")
        rounds = []
        for _ in range(2):
            before = codegen_compiles(spark)[0]
            for name in API_INTERACTIVE.queries:
                df = QUERIES[name].build(spark, {SF_DIR!r})
                df.write.format("noop").mode("overwrite").save()
            rounds.append(codegen_compiles(spark)[0] - before)
        print(json.dumps({{
            "rounds": rounds,
            "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
        }}))
        spark.stop()
        """
    )
    got = run_fresh_process(script, tmp_path)
    first, second = got["rounds"]
    assert first > 100, got  # the mix outgrows Spark's default cache
    assert second == 0, got
    assert got["max_entries"] == "4096"
