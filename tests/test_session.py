"""Session factory: Python workers find the package whatever the
driver's working directory is."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from glue_jobs_for_data_pipeline_spark.operators import multimodal
    from glue_jobs_for_data_pipeline_spark.session import get_spark

    spark = get_spark("cwd-probe", master="local[2]", shuffle_partitions=2)
    png = bytes.fromhex("89504e470d0a1a0a0000000d49484452") + (
        (3).to_bytes(4, "big") + (2).to_bytes(4, "big")
    )
    df = spark.createDataFrame([(1, png)], "doc_id long, payload binary")
    # mapInPandas over a package function: the worker imports it by name
    row = multimodal.decode_media(df).first()
    print("DECODED", row["width"], row["height"], row["format"])
    spark.stop()
    """
)


def test_python_workers_import_package_outside_repo_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_SCRATCH_ROOT=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=_REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "DECODED 3 2 PNG" in out.stdout, out.stderr[-3000:]
