"""spark-submit --py-files packaging test (SURVEY M7; the north_rule's
"ships via spark-submit --py-files" clause).

Runs the REAL spark-submit binary in a scratch cwd that contains ONLY
the job script and the zip — if the package were picked up from the
repo checkout instead of the archive, the import would fail — then
checks the job's parquet outputs and run manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.make_pyfiles import build_zip, sha256_of  # noqa: E402

SPARK_SUBMIT = shutil.which("spark-submit")


def test_cli_args_map_onto_config():
    from gnames_spark.cli import _config_from_args, build_arg_parser

    args = build_arg_parser().parse_args(
        [
            "--input", "in", "--output", "out",
            "--num-perms", "64", "--bands", "16", "--rows-per-band", "4",
            "--jaccard-threshold", "0.7", "--lang-filter", "en",
            "--cc-salt-buckets", "8",
            "--blocked-domains", "bad.example, spam.biz,",
        ]
    )
    cfg = _config_from_args(args)
    cfg.validate()
    assert (cfg.num_perms, cfg.bands, cfg.rows_per_band) == (64, 16, 4)
    assert cfg.jaccard_threshold == 0.7
    assert cfg.lang_filter == "en"
    assert cfg.cc_salt_buckets == 8
    assert cfg.blocked_domains == ("bad.example", "spam.biz")
    # untouched knobs keep their defaults (recall-gate reproducibility)
    from gnames_spark.config import DedupConfig

    assert cfg.shingle_k == DedupConfig().shingle_k


def test_cli_rejects_invalid_banding():
    import pytest as _pytest

    from gnames_spark.cli import _config_from_args, build_arg_parser

    args = build_arg_parser().parse_args(
        ["--input", "in", "--output", "out", "--num-perms", "100", "--bands", "7"]
    )
    with _pytest.raises(ValueError):
        _config_from_args(args).validate()


def test_pyfiles_zip_is_deterministic(tmp_path):
    a = build_zip(str(tmp_path / "a.zip"))
    b = build_zip(str(tmp_path / "b.zip"))
    assert sha256_of(a) == sha256_of(b)
    import zipfile

    names = zipfile.ZipFile(a).namelist()
    assert "gnames_spark/pipeline.py" in names
    assert "gnames_spark/cli.py" in names
    assert not any("__pycache__" in n for n in names)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = build_zip(str(tmp_path / "gnames_spark.zip"))
    job = tmp_path / "dedup_job.py"
    shutil.copy(os.path.join(REPO, "jobs", "dedup_job.py"), job)
    out = tmp_path / "out"

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # the zip must be the only package source

    cmd = [
        SPARK_SUBMIT,
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=2g",
        # operator override of a library tuning conf: must WIN on a
        # fresh driver (get_spark only sets tuning confs absent from
        # the ambient SparkConf)
        "--conf", "spark.sql.session.timeZone=America/New_York",
        "--py-files", zip_path,
        str(job),
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", str(out),
        "--shuffle-partitions", "4",
        "--no-substring",
        # hygiene gate wiring through the real submit path (the
        # synthetic corpus has no PII, so outputs are unchanged)
        "--redact-pii",
        # curation tail through the real submit path
        "--mix-alpha", "0.5",
        "--pack-budget", "128",
        "--pack-shards", "4",
    ]
    proc = subprocess.run(
        cmd, cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    import pyarrow.parquet as pq

    reps = pq.read_table(str(out / "representatives"))
    assert reps.num_rows > 0
    assert {"component_id", "doc_id", "is_representative"} <= set(
        reps.schema.names
    )
    comps = pq.read_table(str(out / "components"))
    assert comps.num_rows == 500  # every sf0.001 doc gets an assignment

    run_files = [
        f for f in os.listdir(out / "run") if f.startswith("part-")
    ]
    assert run_files, "run manifest missing"
    doc = json.loads(open(out / "run" / run_files[0]).read())
    assert doc["config"]["shuffle_partitions"] == 4
    assert doc["config"]["redact_pii"] is True
    assert any(s["stage"] == "components" for s in doc["stages"])
    # submit-line --conf beat the library default; untouched tuning
    # confs kept the library defaults
    assert doc["engine_confs"]["spark.sql.session.timeZone"] == "America/New_York"
    assert doc["engine_confs"]["spark.sql.join.preferSortMergeJoin"] == "false"
    assert doc["engine_confs"]["spark.sql.adaptive.enabled"] == "true"
    assert doc["engine_confs"]["spark.sql.codegen.cache.maxEntries"] == "1000"

    # curation tail landed next to the standard outputs
    train = pq.read_table(str(out / "training_set"))
    assert 0 < train.num_rows <= reps.num_rows
    assert {"doc_id", "lang"} <= set(train.schema.names)
    layout = pq.read_table(str(out / "training_layout"))
    assert layout.num_rows == train.num_rows
    assert {"shard", "start_offset", "n_tokens", "first_seq",
            "last_seq"} <= set(layout.schema.names)
