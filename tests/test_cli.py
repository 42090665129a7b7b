"""CLI end-to-end tests (the reference's command surface,
/root/reference/cmd: root, compareDb, createTable, version)."""

from __future__ import annotations

import pytest

from mysqldatasynctool_spark.cli import main
from tests.conftest import SF_SMALL


def test_version(capsys):
    assert main(["version"]) == 0
    assert "mysqldatasynctool_spark" in capsys.readouterr().out


def test_migrate_and_compare_roundtrip(spark, tmp_path, capsys):
    dest = str(tmp_path / "dest")
    rc = main(
        ["migrate", "--src-dir", "/root/testdata/sf0.001", "--dest-dir", dest]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "failed objects: 0" in out

    rc = main(["compareDb", "--src-dir", "/root/testdata/sf0.001", "--dest-dir", dest])
    assert rc == 0

    # remove a dest table → DestIsExist=NO and nonzero exit
    import shutil

    shutil.rmtree(f"{dest}/region.parquet")
    rc = main(["compareDb", "--src-dir", "/root/testdata/sf0.001", "--dest-dir", dest])
    out = capsys.readouterr().out
    assert rc == 1
    assert "failed items" in out and "NO" in out

    # a dest table that exists but is not readable parquet is an error,
    # never a DestIsExist=NO row
    with open(f"{dest}/region.parquet", "wb") as f:
        f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception):
        main(["compareDb", "--src-dir", SF_SMALL, "--dest-dir", dest])


def test_create_table_ddl(capsys):
    assert main(["createTable", "--src-dir", "/root/testdata/sf0.001", "-t"]) == 0
    out = capsys.readouterr().out
    assert "SET FOREIGN_KEY_CHECKS = 0;" in out
    assert "CREATE TABLE `lineitem`" in out
    assert "PRIMARY KEY (`l_orderkey`, `l_linenumber`)" in out

    with pytest.raises(SystemExit) as e:
        main(["createTable", "-t"])
    assert e.value.code == 2
    assert "--src-dir" in capsys.readouterr().err


def test_missing_config_clean_error(capsys):
    with pytest.raises(SystemExit) as e:
        main(["migrate", "--config", "/nonexistent.yml"])
    assert e.value.code == 2
    assert "config file not found" in capsys.readouterr().err


def test_cli_migrate_db_jdbc(spark, tmp_path, capsys, monkeypatch):
    """migrate between two databases through real JDBC (Derby),
    explicit --pk-map (Derby has no MySQL information_schema): both
    tables land verified YES and the exit code is 0. A config naming
    only MySQL endpoints takes the JDBC path too: without the MySQL
    driver jar it fails on the driver class, and it writes no
    parquet."""
    from mysqldatasynctool_spark.cli import main
    from mysqldatasynctool_spark.config import Endpoint
    from mysqldatasynctool_spark.sources.fixtures import load
    from mysqldatasynctool_spark.sources.sinks import write_jdbc

    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    src_url = f"jdbc:derby:{tmp_path}/csrc;create=true"
    dest_url = f"jdbc:derby:{tmp_path}/cdst;create=true"
    src = Endpoint(url_override=src_url, driver=drv)
    for t in ("region", "nation"):
        write_jdbc(load(spark, "/root/testdata/sf0.001", t), src, t, truncate=True)

    rc = main(
        [
            "migrate",
            "--src-url", src_url,
            "--dest-url", dest_url,
            "--driver", drv,
            "--pk-map", "region=r_regionkey;nation=n_nationkey",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "failed objects: 0" in out
    assert "region" in out and "nation" in out

    cfg = tmp_path / "mysql.yml"
    cfg.write_text(
        "src:\n  host: 127.0.0.1\n  port: 1\n  database: s\n"
        "dest:\n  host: 127.0.0.1\n  port: 1\n  database: d\n"
    )
    monkeypatch.chdir(tmp_path)
    with pytest.raises(Exception, match="com.mysql.cj.jdbc.Driver"):
        main(["migrate", "--config", str(cfg)])
    assert not list(tmp_path.rglob("*.parquet"))


def test_cli_pk_map_parse():
    from mysqldatasynctool_spark.cli import _parse_pk_map

    assert _parse_pk_map("orders=o_orderkey;lineitem=l_orderkey+l_linenumber") == {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber"],
    }
    assert _parse_pk_map("nopk=") == {"nopk": []}


def test_discover_jdbc_pks_grouping(monkeypatch):
    """discover_jdbc_pks reassembles composite keys in ordinal order
    (not name order) and gives PK-less tables an empty entry (full-scan
    tier), from the row shapes the two information_schema queries
    return (the JDBC read is stubbed, so no MySQL server is needed)."""
    from types import SimpleNamespace

    from mysqldatasynctool_spark.catalog import catalog_scan_sql, discover_jdbc_pks
    from mysqldatasynctool_spark.sources import jdbc

    def read_table(spark, endpoint, table, custom_sql=None):
        if custom_sql == catalog_scan_sql(()):
            rows = [("lineitem",), ("orders",), ("no_pk_log",)]
        else:
            rows = [
                ("lineitem", "l_orderkey", 1),
                ("orders", "o_orderkey", 1),
                ("lineitem", "l_linenumber", 2),
            ]
        return SimpleNamespace(collect=lambda: rows)

    monkeypatch.setattr(jdbc, "read_table", read_table)
    assert discover_jdbc_pks(None, None) == {
        "lineitem": ["l_orderkey", "l_linenumber"],
        "orders": ["o_orderkey"],
        "no_pk_log": [],
    }


def test_cli_compare_db_jdbc(spark, tmp_path, capsys):
    """compareDb in JDBC mode (two Derby DBs, explicit --tables):
    identical tables verdict YES (rc 0); after mutating one dest row,
    the same compare returns rc 1 and flags the table."""
    from mysqldatasynctool_spark.cli import main
    from mysqldatasynctool_spark.config import Endpoint
    from mysqldatasynctool_spark.sources.fixtures import load
    from mysqldatasynctool_spark.sources.sinks import write_jdbc

    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    src_url = f"jdbc:derby:{tmp_path}/qsrc;create=true"
    dest_url = f"jdbc:derby:{tmp_path}/qdst;create=true"
    nation = load(spark, "/root/testdata/sf0.001", "nation")
    write_jdbc(nation, Endpoint(url_override=src_url, driver=drv), "nation", truncate=True)
    write_jdbc(nation, Endpoint(url_override=dest_url, driver=drv), "nation", truncate=True)

    argv = [
        "compareDb",
        "--src-url", src_url,
        "--dest-url", dest_url,
        "--driver", drv,
        "--tables", "nation",
    ]
    assert main(argv) == 0
    assert "YES" in capsys.readouterr().out

    # corrupt one dest row → checksum must catch it
    jconn = spark._jvm.java.sql.DriverManager.getConnection(dest_url)
    st = jconn.createStatement()
    st.execute("UPDATE nation SET \"n_name\" = 'XX' WHERE \"n_nationkey\" = 0")
    st.close()
    jconn.close()
    assert main(argv) == 1
    assert "NO" in capsys.readouterr().out


def test_jdbc_mode_refuses_half_specified_endpoints(capsys):
    """The endpoints pick the path, and a run that names too few of
    them, or mixes the two modes' flags, is refused before any work:
    never a silent localhost:3306 default for an unnamed side, never a
    fixture directory, never an ignored flag."""
    url = "jdbc:derby:memory:x;create=true"

    def refused(argv) -> str:
        with pytest.raises(SystemExit) as e:
            main(argv)
        assert e.value.code == 2
        return capsys.readouterr().err

    assert "--dest-url" in refused(["migrate", "--src-url", url])
    assert "--src-url" in refused(["compareDb", "--dest-url", url])
    err = refused(["migrate"])
    assert "--src-dir" in err and "--config" in err and "--src-url" in err
    assert "--dest-dir" in refused(["migrate", "--src-dir", "/x"])
    assert "--src-dir" in refused(["compareDb", "--dest-dir", "/x"])
    # a flag of the other mode
    assert "--versioned" in refused(["migrate", "--versioned", "--src-url", url, "--dest-url", url])
    assert "--pk-map" in refused(["migrate", "--src-dir", "/x", "--dest-dir", "/y", "--pk-map", "t=id"])
    assert "--tables" in refused(["compareDb", "--src-dir", "/x", "--dest-dir", "/y", "--tables", "t"])
    assert "--src-url" in refused(["migrate", "--src-dir", "/x", "--dest-dir", "/y", "--src-url", url])


def test_cli_query_list_and_run(spark, tmp_path, capsys):
    from mysqldatasynctool_spark import cli

    assert cli.main(["query", "--list"]) == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names and len(names) > 170

    out_dir = str(tmp_path / "q_out")
    assert cli.main(["query", "agg_distinct", "--out", out_dir]) == 0
    assert spark.read.parquet(out_dir).count() > 0


def test_cli_query_unknown_suggests(capsys):
    from mysqldatasynctool_spark import cli

    assert cli.main(["query", "q1_pricing_sumary"]) == 2
    err = capsys.readouterr().err
    assert "did you mean" in err and "q1_pricing_summary" in err


def test_cli_layout_probe(capsys, tmp_path):
    """layoutProbe prints one JSON report per path (footer-only, no
    Spark) and exits 2 when any path has no parquet data."""
    import json as _json

    rc = main(
        [
            "layoutProbe",
            "/root/testdata/sf0.001/lineitem.parquet",
            "--target-parallelism",
            "4",
        ]
    )
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip())
    assert rep["row_groups"] == rep["max_scan_tasks"] >= 1
    assert rep["rows"] > 0 and rep["bounded"] in (True, False)

    rc = main(["layoutProbe", str(tmp_path / "missing")])
    assert rc == 2
    assert "error" in capsys.readouterr().out


def test_cli_plan_volume(spark, capsys):
    """planVolume executes once JVM-side and prints the measured
    volume JSON for a registered query and for ad-hoc SQL; refuses
    when given neither."""
    import json as _json

    rc = main(
        ["planVolume", "q3_shipping_priority", "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["query"] == "q3_shipping_priority"
    assert rep["num_broadcasts"] >= 1 and rep["broadcast_bytes"] > 0
    assert rep["scan_files"] == 3  # lineitem + orders + customer

    rc = main(
        [
            "planVolume",
            "--sql",
            "SELECT o_orderstatus, count(*) c FROM orders GROUP BY 1",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["query"] == "sql"
    assert rep["num_shuffles"] == 1 and rep["shuffle_bytes_written"] > 0

    rc = main(["planVolume", "nonexistent_query_name"])
    assert rc == 2
