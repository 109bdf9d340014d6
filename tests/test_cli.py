"""The one-shot CLI (``python -m spark_cassandra_collabfiltering_spark``)
run in-process: the reference contract passes, the report is followed
by the scored-pair count, and the run leaves no scratch directory
behind."""

from __future__ import annotations

import glob
import os
import tempfile

from spark_cassandra_collabfiltering_spark.__main__ import main


def test_cli_passes_contract_and_removes_its_workdir(spark, capsys):
    pattern = os.path.join(tempfile.gettempdir(), "collabfilter_*")
    before = set(glob.glob(pattern))
    confs = dict(spark.conf.getAll)  # main's get_spark reconfigures the session
    try:
        assert main([]) == 0
    finally:
        for k, v in confs.items():
            if spark.conf.get(k, None) != v and spark.conf.isModifiable(k):
                spark.conf.set(k, v)
    out = capsys.readouterr().out
    assert "contract 0.0 <= RMSE < 0.5: PASS" in out
    assert "\nRMSE = 0.39\nscored pairs = 9\n" in out
    assert set(glob.glob(pattern)) <= before
