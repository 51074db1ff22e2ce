"""Rebuild the package's JVM jar from its Java source.

Usage: python tools/build_jvm.py

Compiles automated_agro_climatic_data_warehouse_spark/jvm/
NioLocalFileSystem.java with `javac --release 17` against the
hadoop-client-api jar that ships with the installed pyspark and writes
jvm/nio-local-fs.jar. The jar's manifest records the source's SHA-256,
which tests/test_local_fs.py checks against the committed source, and the
Hadoop jar it was compiled against. Entries are written in name order
with a fixed timestamp, so the same source and JDK rebuild the same
bytes. Needs a JDK; running the engine does not, since the jar is
committed.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
JVM = ROOT / "automated_agro_climatic_data_warehouse_spark" / "jvm"
SOURCE = JVM / "NioLocalFileSystem.java"
JAR = JVM / "nio-local-fs.jar"
_EPOCH = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> Path:
    import pyspark

    jars = sorted((Path(pyspark.__file__).parent / "jars").glob("hadoop-client-api-*.jar"))
    if len(jars) != 1:
        sys.exit(f"expected one hadoop-client-api jar in pyspark, found {jars}")
    return jars[0]


def main() -> None:
    api = hadoop_api_jar()
    manifest = [
        "Manifest-Version: 1.0",
        f"Built-Against: {api.name}",
        f"Source-SHA-256: {hashlib.sha256(SOURCE.read_bytes()).hexdigest()}",
    ]
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", str(api), "-d", out,
             str(SOURCE)],
            check=True,
        )
        classes = sorted(Path(out).rglob("*.class"))
        with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
            entries = [("META-INF/MANIFEST.MF", "\r\n".join(manifest) + "\r\n\r\n")]
            entries += [(c.relative_to(out).as_posix(), c.read_bytes()) for c in classes]
            for name, data in entries:
                jar.writestr(zipfile.ZipInfo(name, _EPOCH), data, zipfile.ZIP_DEFLATED)
    print(f"wrote {JAR.relative_to(ROOT)}: {len(classes)} classes, {JAR.stat().st_size} bytes")


if __name__ == "__main__":
    main()
