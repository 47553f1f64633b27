"""CLI end-to-end: fixture parquet -> python -m g1_etl_spark -> the
reference-shaped mmj-{org}.json / distributed entity json."""

from __future__ import annotations

import datetime
import json
import os

from g1_etl_spark.__main__ import main
from g1_etl_spark.entities import schemas as S

TS1 = datetime.datetime(2020, 1, 2, 3, 4, 5)


def _write_customers(spark, data_dir, drop=()):
    defaults = {f.name: None for f in S.CUSTOMERS.fields}
    rows = [dict(defaults, id=1, dispensary_id=1, name="Solo",
                 license_type=1, created_at=TS1, updated_at=TS1),
            dict(defaults, id=2, dispensary_id=9, name="OtherShop",
                 license_type=1, created_at=TS1, updated_at=TS1)]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in S.CUSTOMERS.fields) for r in rows],
        S.CUSTOMERS)
    df.drop(*drop).write.mode("overwrite").parquet(
        str(data_dir / "customers.parquet"))


def test_cli_extract_payload(spark, tmp_path):
    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    # sources are read with the declared schema: a parquet file without
    # the nullable registry_no column still extracts, with no mmjCard
    _write_customers(spark, data, drop=("registry_no",))
    path = main(["extract", "--dispensary", "1", "--org", "420",
                 "--data", str(data), "--out", str(out)])
    assert os.path.basename(path) == "mmj-420.json"
    payload = json.load(open(path))
    assert payload["organizationId"] == "420"
    # dispensary filter applied: only the dispensary-1 customer survives
    assert [m["name"] for m in payload["members"]] == ["Solo"]
    assert "mmjCard" not in payload["members"][0]
    assert payload["products"] == [] and payload["physicians"] == []
    assert payload["summary"]["members"] == {"valid": 0, "invalid": 0}


def test_cli_entity_distributed_json(spark, tmp_path):
    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    _write_customers(spark, data)
    path = main(["entity", "--entity", "members", "--dispensary", "1",
                 "--org", "420", "--data", str(data), "--out", str(out)])
    docs = [json.loads(line)
            for line in spark.read.text(path).toPandas()["value"]]
    assert [d["name"] for d in docs] == ["Solo"]


def test_cli_unknown_entity(spark, tmp_path):
    import pytest
    with pytest.raises(SystemExit):
        main(["entity", "--entity", "nope", "--dispensary", "1",
              "--org", "420", "--out", str(tmp_path)])


def test_cli_sql_adhoc(spark, capsys):
    from tests.conftest import SF_SMOKE

    assert main(["sql",
                 "SELECT COUNT(*) AS n FROM documents",
                 "--data", SF_SMOKE]) == "sql"
    out = capsys.readouterr().out
    assert "500" in out and "n" in out
