"""Local files are written with no child process.

1. Fork guard: in a fresh session whose PATH puts logging `chmod`,
   `readlink`, `ls` and `stat` wrappers first, a partitioned parquet
   write, one upsert-drain micro-batch (a FileContext checkpoint) and an
   audit flush run none of them, and the files keep the modes and the
   `.crc` checksums Hadoop's own local file system gives them under
   umask 022. The same holds when the JVM was up before `get_spark`:
   launched by a session built without it and since stopped, or by
   spark-submit.
2. The committed jar was built from the committed Java source: its
   manifest carries the source's SHA-256 (tools/build_jvm.py).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
import stat
import subprocess
import sys
import zipfile

import pyspark
import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
JVM = ROOT / "automated_agro_climatic_data_warehouse_spark" / "jvm"
SPARK_SUBMIT = str(pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit")

CHILD = """
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from automated_agro_climatic_data_warehouse_spark.pipeline import PipelineRunner
from automated_agro_climatic_data_warehouse_spark.session import get_spark, local_frame
from automated_agro_climatic_data_warehouse_spark.streaming.sinks import upsert_sink_drain
from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import file_stream

out = sys.argv[1]
if sys.argv[2] == "stopped":
    SparkSession.builder.master("local[1]").getOrCreate().stop()
spark = get_spark("fork_guard")
df = local_frame(spark, [(1, "a", 1.0), (2, "b", 2.0)], "k long, part string, v double")
df.write.partitionBy("part").parquet(f"{out}/parted")

stage = f"{out}/stage"
os.makedirs(stage)
pq.write_table(pa.table({"k": [1, 2], "v": [1.0, 2.0], "seq": [1, 1]}), f"{stage}/b0.parquet")
stream = file_stream(spark, stage, "k long, v double, seq long")
upsert_sink_drain(spark, stream, f"{out}/target", f"{out}/ckpt", keys=["k"], order_by=["seq"])

runner = PipelineRunner(spark, f"{out}/audit")
runner.run_phase("fork_guard", lambda: df)
runner.flush_audit()
spark.stop()
"""


def _wrappers(bin_dir: pathlib.Path, log: pathlib.Path) -> None:
    bin_dir.mkdir()
    for tool in ("chmod", "readlink", "ls", "stat"):
        real = shutil.which(tool)
        wrapper = bin_dir / tool
        wrapper.write_text(
            f'#!/bin/sh\necho "{tool} $*" >> {log}\nexec {real} "$@"\n'
        )
        wrapper.chmod(0o755)


@pytest.mark.parametrize("jvm_before", ["fresh", "stopped", "spark-submit"])
def test_local_writes_fork_no_process(tmp_path, jvm_before):
    log, out = tmp_path / "spawned.log", tmp_path / "out"
    _wrappers(tmp_path / "bin", log)
    out.mkdir()
    child = tmp_path / "child.py"
    child.write_text(CHILD)
    env = {
        **os.environ,
        "PATH": f"{tmp_path / 'bin'}:{os.environ['PATH']}",
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]),
    }
    launcher = [sys.executable]
    if jvm_before == "spark-submit":
        launcher = [SPARK_SUBMIT, "--master", "local[1]"]
    subprocess.run(
        [*launcher, str(child), str(out), jvm_before],
        cwd=ROOT, env=env, umask=0o022, check=True, timeout=600,
    )
    assert (out / "audit").is_dir() and (out / "target").is_dir()
    spawned = log.read_text().splitlines() if log.exists() else []
    assert spawned == []

    parts = sorted((out / "parted").glob("part=*"))
    files = [f for p in parts for f in p.glob("part-*.parquet")]
    assert len(parts) == 2 and files
    assert {stat.S_IMODE(p.stat().st_mode) for p in parts} == {0o755}
    assert {stat.S_IMODE(f.stat().st_mode) for f in files} == {0o644}
    # the checksummed file system, not the raw one
    assert all((f.parent / f".{f.name}.crc").is_file() for f in files)


def test_jar_is_built_from_the_committed_source():
    source = JVM / "NioLocalFileSystem.java"
    with zipfile.ZipFile(JVM / "nio-local-fs.jar") as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    fields = dict(
        line.split(": ", 1) for line in manifest.splitlines() if ": " in line
    )
    assert fields["Source-SHA-256"] == hashlib.sha256(source.read_bytes()).hexdigest()
