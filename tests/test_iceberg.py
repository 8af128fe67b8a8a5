"""Optional-dependency Iceberg path (session.iceberg_conf): jar
discovery, the registered-catalog conf when a jar exists (mocked), and
the tested preflight error when it does not — the same
presence/absence contract as the Pillow/PyAV codec paths."""

import pytest

from centrality_gpu_spark.session import (
    ICEBERG_JAR_ENV,
    IcebergUnavailableError,
    find_iceberg_jar,
    iceberg_conf,
)


def test_env_override_requires_existing_file(monkeypatch, tmp_path):
    monkeypatch.setenv(ICEBERG_JAR_ENV, str(tmp_path / "missing.jar"))
    assert find_iceberg_jar() is None
    jar = tmp_path / "iceberg-spark-runtime-4.0_2.13-1.7.0.jar"
    jar.write_bytes(b"PK")  # presence is what matters
    monkeypatch.setenv(ICEBERG_JAR_ENV, str(jar))
    assert find_iceberg_jar() == str(jar)


def test_spark_home_scan_picks_latest(monkeypatch, tmp_path):
    monkeypatch.delenv(ICEBERG_JAR_ENV, raising=False)
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "iceberg-spark-runtime-4.0_2.13-1.6.1.jar").write_bytes(b"PK")
    (jars / "iceberg-spark-runtime-4.0_2.13-1.7.0.jar").write_bytes(b"PK")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    assert find_iceberg_jar().endswith("1.7.0.jar")


def test_conf_registers_catalog_when_jar_present(tmp_path):
    jar = tmp_path / "iceberg-spark-runtime-4.0_2.13-1.7.0.jar"
    jar.write_bytes(b"PK")
    conf = iceberg_conf("/data/warehouse", catalog="lake", jar=str(jar))
    assert conf["spark.jars"] == str(jar)
    assert conf["spark.sql.catalog.lake"].endswith("SparkCatalog")
    assert conf["spark.sql.catalog.lake.type"] == "hadoop"
    assert conf["spark.sql.catalog.lake.warehouse"] == "/data/warehouse"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_preflight_error_when_jar_absent(monkeypatch, tmp_path):
    monkeypatch.setenv(ICEBERG_JAR_ENV, str(tmp_path / "nope.jar"))
    with pytest.raises(IcebergUnavailableError, match="iceberg-spark-runtime"):
        iceberg_conf("/data/warehouse")


def test_cli_preflight_exits_with_recipe(monkeypatch, tmp_path):
    """table-format=iceberg with no jar must SystemExit with the
    spark-submit recipe BEFORE any SparkSession is built."""
    from centrality_gpu_spark import cli

    monkeypatch.setenv(ICEBERG_JAR_ENV, str(tmp_path / "nope.jar"))
    built = []
    monkeypatch.setattr(
        "centrality_gpu_spark.session.get_spark",
        lambda *a, **k: built.append(1),
    )
    with pytest.raises(SystemExit, match="iceberg-spark-runtime"):
        cli.main([
            "pagerank",
            "--input", "lake.db.transcripts",
            "--input-format", "transcripts",
            "--table-format", "iceberg",
            "--output", str(tmp_path / "out"),
        ])
    assert not built


def test_get_spark_rejects_static_conf_on_active_session(spark):
    """getOrCreate silently drops static confs (spark.jars, catalogs)
    on an existing session — the preflight must fail loudly instead of
    letting the iceberg read die mid-job (ADVICE r04)."""
    from centrality_gpu_spark.session import get_spark

    with pytest.raises(RuntimeError, match="already-active"):
        get_spark(extra_conf={"spark.jars": "/nonexistent/iceberg.jar"})
    # modifiable confs ARE applied by getOrCreate — those must not trip
    # the guard (value pinned to the current one: no session mutation)
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    assert (
        get_spark(extra_conf={"spark.sql.shuffle.partitions": cur}) is spark
    )


def test_get_spark_accepts_equal_non_string_static_conf(spark):
    """A non-string extra_conf value equal to the live static one (conf
    values are strings) is not stale and must not trip the guard."""
    from centrality_gpu_spark.session import get_spark

    assert not spark.conf.isModifiable("spark.driver.port")
    port = int(spark.conf.get("spark.driver.port"))
    assert get_spark(extra_conf={"spark.driver.port": port}) is spark


def test_jar_pick_is_numeric_version_order(monkeypatch, tmp_path):
    monkeypatch.delenv(ICEBERG_JAR_ENV, raising=False)
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "iceberg-spark-runtime-4.0_2.13-1.9.0.jar").write_bytes(b"PK")
    (jars / "iceberg-spark-runtime-4.0_2.13-1.10.0.jar").write_bytes(b"PK")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    # lexicographic sort would pick 1.9.0 ("1.9" > "1.10" as strings)
    assert find_iceberg_jar().endswith("1.10.0.jar")
