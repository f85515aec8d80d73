"""The runner's filesystem rule: driver-side writes (the lineage commit, the
metrics file) go to the driver's disk only for paths on the `file` scheme,
and every other path takes the Spark / Hadoop FileSystem branch."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from xema_spark import runner
from xema_spark.datagen import FLAGSHIP_RULE, gen_documents

LINEAGE_COLS = ["bucket", "n_rows", "n_valid", "n_violations", "n_bytes", "run_id"]


def _lineage(spark, out):
    rows = spark.read.parquet(os.path.join(out, "lineage")).select(*LINEAGE_COLS)
    return sorted(map(tuple, rows.collect()))


def test_local_path_follows_default_fs(spark):
    conf = spark._jsc.hadoopConfiguration()
    assert runner._local_path(spark, "/x") == "/x"
    assert runner._local_path(spark, "file:///x") == "/x"
    old = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert runner._local_path(spark, "/x") is None
        assert runner._local_path(spark, "file:/x") == "/x"
        assert runner._local_path(spark, "s3a://bucket/x") is None
    finally:
        if old is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", old)
    assert runner._local_path(spark, "/x") == "/x"


def test_file_uri_output_dir(spark, tmp_path):
    docs = gen_documents(spark, 40).select("doc_id", "spans")
    out = "file://" + str(tmp_path / "out")
    m = runner.run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=2,
                              run_id="uri")
    assert m["n_rows"] == 40
    with open(tmp_path / "out" / "metrics_uri.json") as f:
        assert json.load(f)["n_rows"] == 40
    assert runner.read_verdicts(spark, out).count() == 40


def test_non_local_branch_commits_the_same_rows(spark, tmp_path, monkeypatch):
    docs = gen_documents(spark, 40).select("doc_id", "spans")
    local_out, remote_out = str(tmp_path / "local"), str(tmp_path / "remote")
    runner.run_validation(spark, docs, FLAGSHIP_RULE, local_out, n_buckets=2,
                          run_id="r")
    monkeypatch.setattr(runner, "_local_path", lambda spark, path: None)
    m = runner.run_validation(spark, docs, FLAGSHIP_RULE, remote_out,
                              n_buckets=2, run_id="r")
    assert _lineage(spark, remote_out) == _lineage(spark, local_out)
    with open(os.path.join(remote_out, "metrics_r.json")) as f:
        assert json.load(f) == json.loads(json.dumps(m))
    assert not os.path.exists(os.path.join(remote_out, "metrics_r.json.tmp"))
    assert (runner.read_verdicts(spark, remote_out)
            .filter(F.col("run_id") == "r").count() == 40)
