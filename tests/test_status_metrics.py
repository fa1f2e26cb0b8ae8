"""Status surface (cmd/status.go analog) + per-verb metrics export
(otel_instrumentation.go analog) over a delta'd, partially-quarantined
index."""

import json
import os

import pandas as pd
from pyspark.sql import functions as F

from pgspark_index import build, cli, incremental, merge, metrics, status


def _corpus(spark, n, tag=""):
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": [f"alpha beta {tag} doc {i}" for i in range(n)]}
    )
    return spark.createDataFrame(pdf, "doc_id long, text string")


def test_status_and_metrics_lifecycle(spark, tmp_path, capsys):
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 30)
    build.build_index(spark, build.docs_unit_provider(corpus), idx,
                      num_units=2, partitions=2, sample_fraction=1.0)
    merge.merge_index(spark, idx)
    # delta updating 5 docs -> 5 tombstones pending
    delta = _corpus(spark, 5, tag="zzznew")
    incremental.build_delta(
        spark, build.docs_unit_provider(delta), idx,
        input_snapshot_id=3, sample_fraction=1.0,
    )
    # synthetic quarantine rows (poison attempt log)
    spark.createDataFrame(
        [(99, "ValueError: x"), (-1, "ValueError: y")], "doc_id long, error string"
    ).write.parquet(os.path.join(build.quarantine_path(idx), "unit=0"))

    st = status.index_status(idx, latest_snapshot=5)
    assert st["units_by_status"] == {"completed": 3}
    assert st["n_units"] == 3
    assert st["docs"] == 35  # 30 base + 5 delta rows (pre-compact lineage)
    assert st["tombstone_debt"] == 5
    assert st["quarantined_docs"] == 2
    assert st["indexed_snapshot"] == 3
    assert st["snapshot_lag"] == 2
    assert st["pending_folds"] == []
    assert st["stats"]["n_docs"] == 30  # tombstone-corrected live view

    # metrics records for build + delta exist and carry stage counts
    recs = metrics.read_metrics(idx)
    verbs = [r["verb"] for r in recs]
    assert verbs[:2] == ["build", "delta"]
    assert recs[0]["rows_indexed"] == 30
    assert recs[0]["wall_sec"] > 0
    assert recs[1]["tombstones"] == 5
    with open(os.path.join(idx, "metrics.json")) as f:
        assert json.load(f)["verb"] == "delta"

    # compact + fold append their records and clear the debt
    incremental.compact(spark, idx)
    incremental.merge_units(spark, idx, partitions=2)
    st2 = status.index_status(idx, latest_snapshot=5)
    assert st2["tombstone_debt"] == 0
    assert st2["n_units"] == 1
    assert st2["docs"] == 30
    recs = metrics.read_metrics(idx)
    assert [r["verb"] for r in recs][-2:] == ["compact", "merge-units"]
    crec = recs[-2]
    assert crec["removed_docs"] == 5
    assert set(crec["phase_secs"]) == {"ords", "segments", "docs", "merge"}
    assert crec["term_rows"] > 0 and crec["postings_bytes"] > 0

    # CLI surface prints the same JSON
    assert cli.main(["status", "--index", idx, "--latest-snapshot", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["snapshot_lag"] == 2
    assert out["quarantined_docs"] == 2


def test_root_status_multifield(spark, tmp_path):
    root = str(tmp_path / "mf")
    corpus = _corpus(spark, 20)
    build.build_index_multifield(
        spark, corpus, root,
        fields={"body": F.col("text"), "head": F.substring("text", 1, 10)},
        num_units=1, partitions=2,
    )
    st = status.root_status(root)
    assert sorted(st["fields"]) == ["body", "head"]
    assert st["fields"]["body"]["docs"] == 20
    assert st["fields"]["head"]["n_units"] == 1
