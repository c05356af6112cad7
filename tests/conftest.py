from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Keep the test JVM small and deterministic.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_embargo_spark.session import get_spark

    spark = get_spark("etl_embargo_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from etl_embargo_spark.parity import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def embargo_inputs(tmp_path_factory) -> dict:
    """A small seeded day of sidestream archives (``perfbench.gen``) with
    the independent three-term oracle (``perfbench.oracle``) under
    ``expected`` (age term on) and ``expected_no_date`` (age term off).

    The day holds new, old and undated archives, web100 and other
    entries, whitelisted, stranger, malformed and ``:::``-spelled IPs
    and non-regular members, so it exercises every term of the rule."""
    from perfbench import gen, oracle

    inputs = gen.gen_embargo_day(
        str(tmp_path_factory.mktemp("embargo_day")),
        seed=7,
        n_archives=4,
        entries_per_archive=40,
        max_entry_bytes=4096,
    )
    inputs["expected"] = oracle.expected_embargo(inputs, date_term=True)
    inputs["expected_no_date"] = oracle.expected_embargo(inputs, date_term=False)
    for exp in (inputs["expected"], inputs["expected_no_date"]):
        assert exp["public"] and exp["private"]
    assert inputs["expected"] != inputs["expected_no_date"]
    return inputs


@pytest.fixture(scope="session")
def write_day():
    """Factory for tiny hand-made days: ``write_day(root, archives)``
    writes each ``{archive name: [member basename, ...]}`` archive as a
    ``.tgz`` under ``root`` and returns the input form of
    ``perfbench.oracle.expected_embargo`` (``archive_glob``, ``entries``,
    ``cutoff_int``) without a whitelist.  Every member gets its own path
    and content, so no two routed rows are equal."""
    import gzip
    import hashlib
    import io
    import tarfile

    def write(root: str, archives: dict, cutoff_int: int = 20160601) -> dict:
        os.makedirs(root, exist_ok=True)
        entries = []
        for archive, basenames in archives.items():
            raw = io.BytesIO()
            with tarfile.open(fileobj=raw, mode="w", format=tarfile.GNU_FORMAT) as tar:
                for i, base in enumerate(basenames):
                    data = f"{archive}/{i}/{base}".encode()
                    info = tarfile.TarInfo(f"m{i}/{base}")
                    info.size, info.mtime, info.mode = len(data), 1_400_000_000, 0o644
                    tar.addfile(info, io.BytesIO(data))
                    entries.append({
                        "archive": archive, "path": info.name, "basename": base,
                        "mode": info.mode, "sha": hashlib.sha256(data).hexdigest(),
                    })
            with open(os.path.join(root, archive), "wb") as f:
                f.write(gzip.compress(raw.getvalue(), mtime=0))
        return {"archive_glob": root, "entries": entries, "cutoff_int": cutoff_int}

    return write

