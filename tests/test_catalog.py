"""Catalog runtime-conf guard and metadata caches."""

from __future__ import annotations

from taico_data_integration_spark import catalog


class _FlakyConf:
    """spark.conf stand-in whose first ``set`` raises."""

    def __init__(self):
        self.values: dict[str, str] = {}
        self.failures_left = 1

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        if self.failures_left:
            self.failures_left -= 1
            raise RuntimeError("transient conf failure")
        self.values[key] = value


class _Session:
    def __init__(self):
        self.conf = _FlakyConf()


def test_ensure_runtime_confs_retries_after_a_failed_set():
    s = _Session()
    catalog.ensure_runtime_confs(s)
    assert s not in catalog._confs_ensured
    assert len(s.conf.values) == len(catalog.RUNTIME_CONFS) - 1
    catalog.ensure_runtime_confs(s)
    assert s in catalog._confs_ensured
    assert s.conf.values == catalog.RUNTIME_CONFS


def test_metadata_caches_keep_one_entry_per_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    catalog.load_table(spark, str(tmp_path), "t", fan_out=True)
    sizes = (len(catalog._schema_cache), len(catalog._scan_stats_cache))
    old = (catalog._schema_cache[path][0], catalog._scan_stats_cache[path][0])
    # a rewrite at the same path gives the directory a new mtime
    spark.range(5).selectExpr("CAST(id AS STRING) AS s").write.mode("overwrite").parquet(path)
    assert catalog.load_table(spark, str(tmp_path), "t", fan_out=True).columns == ["s"]
    assert (len(catalog._schema_cache), len(catalog._scan_stats_cache)) == sizes
    new = (catalog._schema_cache[path][0], catalog._scan_stats_cache[path][0])
    assert new[0] != old[0] and new[1] != old[1]
