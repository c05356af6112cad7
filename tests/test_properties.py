"""Property-based tests (hypothesis) for the scalar filename/date layer:
Spark expressions vs pure-Python models of the reference's Go semantics
(/root/reference/filename_parser.go, embargo_check.go, embargo.go:105).

All properties are evaluated in ONE Spark job per hypothesis example
(single select over a batch of generated names) so the suite stays fast.
"""

from __future__ import annotations

import base64
import io
import os
import tarfile
import tempfile

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_embargo_spark.functions import filenames as fn

# Printable ASCII without newline (regexp '.' does not cross lines; the
# reference never sees newlines in object names).
NAME_ALPHABET = st.characters(min_codepoint=0x20, max_codepoint=0x7E)
names_lists = st.lists(
    st.text(alphabet=NAME_ALPHABET, min_size=0, max_size=40),
    min_size=1,
    max_size=40,
)


def _py_local_ip(name: str) -> str:
    """Go GetLocalIP (filename_parser.go:17-29): substring strictly between
    the FIRST and LAST underscore; '' when start >= end."""
    start = name.find("_") + 1
    end = name.rfind("_")
    if start >= end or end == -1:
        return ""
    return name[start:end]


# Sidestream-shaped member names: a date-ish head, an IP-ish middle (IPv6,
# IPv6 with the ``:::`` spelling, IPv4 or garbage) and a tail, mixed with
# free text that may have fewer than two underscores.  Line terminators are
# in the alphabet: a regex '.' without DOTALL would not cross them.
_MEMBER_ALPHABET = st.characters(
    min_codepoint=0x20, max_codepoint=0x7E, exclude_characters="/",
    include_characters="\n\r\u2028",
)
_ip_like = st.one_of(
    st.ip_addresses(v=6).map(str),
    st.ip_addresses(v=6).map(lambda a: str(a).replace("::", ":::")),
    st.ip_addresses(v=4).map(str),
    st.text(alphabet="0123456789abcdef:._", max_size=20),
)
member_names = st.one_of(
    st.builds(
        lambda head, ip, tail: f"{head}_{ip}_{tail}",
        st.text(alphabet=_MEMBER_ALPHABET, max_size=12),
        _ip_like,
        st.text(alphabet=_MEMBER_ALPHABET, max_size=12),
    ),
    st.text(alphabet=_MEMBER_ALPHABET, min_size=1, max_size=40),
)


def _py_rename(name: str) -> str:
    return name[: -len(".tgz")] + "-e.tgz" if name.endswith(".tgz") else name


def _py_date_path(d: str) -> str:
    # Go: "sidestream/" + d[0:4] + "/" + d[4:6] + "/" + d[6:8] — plain
    # concatenation (empty slices stay empty; separators always present)
    return "/".join(["sidestream", d[:4], d[4:6], d[6:8]])


class TestFilenameGrammarProperties:
    @settings(max_examples=15, deadline=None)
    @given(names_lists)
    def test_scalar_layer_matches_reference_model(self, spark, names):
        df = spark.createDataFrame([(n,) for n in names], "name string")
        rows = df.select(
            "name",
            fn.filename_local_ip("name").alias("ip"),
            fn.filename_date("name").alias("d8"),
            fn.basename("name").alias("base"),
            fn.embargo_rename("name").alias("renamed"),
            fn.date_path("name").alias("dpath"),
        ).collect()
        assert len(rows) == len(names)
        for r in rows:
            n = r["name"]
            assert r["ip"] == _py_local_ip(n), f"local_ip({n!r})"
            assert r["d8"] == n[:8], f"date8({n!r})"
            assert r["base"] == n.rsplit("/", 1)[-1], f"basename({n!r})"
            assert r["renamed"] == _py_rename(n), f"rename({n!r})"
            assert r["dpath"] == _py_date_path(n), f"date_path({n!r})"

    @settings(max_examples=10, deadline=None)
    @given(st.lists(member_names, min_size=1, max_size=30))
    @example(names=["x_a\nb_y.web100", "x_a\r\u2028b_y"])
    def test_exploder_local_ip_matches_reference_model(self, spark, names):
        """The tar exploder's ``local_ip`` (Python F2, then F3) equals the
        Go GetLocalIP model followed by F3, and the SQL F2 through the F3
        UDF, with ``""`` as null."""
        from etl_embargo_spark.functions.ipv6 import normalize_ipv6, normalize_ipv6_py
        from etl_embargo_spark.sources.tar_source import read_tar_entries

        with tempfile.TemporaryDirectory() as d:
            with tarfile.open(os.path.join(d, "day.tgz"), "w:gz", format=tarfile.PAX_FORMAT) as tar:
                for i, name in enumerate(names):
                    info = tarfile.TarInfo(f"{i:03d}/{name}")
                    tar.addfile(info, io.BytesIO(b""))
            raw = fn.filename_local_ip(F.col("basename"))
            rows = read_tar_entries(spark, d).select(
                "path", "basename", "local_ip",
                F.when(raw == "", F.lit(None)).otherwise(normalize_ipv6(raw)).alias("sql_ip"),
            ).collect()
        assert sorted(r["path"] for r in rows) == [f"{i:03d}/{n}" for i, n in enumerate(names)]
        for r in rows:
            want = normalize_ipv6_py(_py_local_ip(r["basename"]) or None)
            assert r["local_ip"] == want, f"local_ip({r['basename']!r})"
            assert r["sql_ip"] == want, f"sql local_ip({r['basename']!r})"

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="0123456789", min_size=1, max_size=12),
            min_size=1,
            max_size=30,
        )
    )
    def test_parse_date_int_on_digits(self, spark, digit_strings):
        """Eight or more digits parse their first 8; shorter strings have
        no date prefix and yield null."""
        df = spark.createDataFrame([(s,) for s in digit_strings], "d string")
        rows = df.select("d", fn.parse_date_int("d").alias("v")).collect()
        for r in rows:
            assert r["v"] == (int(r["d"][:8]) if len(r["d"]) >= 8 else None)

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.text(alphabet=NAME_ALPHABET, min_size=1, max_size=10),
                st.builds(
                    lambda pad, digits, tail: pad + digits + tail,
                    st.sampled_from(["", " ", "+", "-", "0", "\t"]),
                    st.text(alphabet="0123456789", min_size=6, max_size=8),
                    st.sampled_from(["", " ", "T000000Z-a.tgz", "x"]),
                ),
            ),
            min_size=1,
            max_size=30,
        )
    )
    @example(bad_strings=[
        " 2017010T-a.tgz", "+2017010-a.tgz", "-1234567-a.tgz", "2017010 x",
        "\uff12\uff10\uff11\uff17\uff10\uff13\uff10\uff11-a.tgz",  # non-ASCII digits
    ])
    def test_parse_date_int_malformed_is_null(self, spark, bad_strings):
        """A prefix that is not 8 ASCII digits yields null — signed and
        space-padded numbers included, which Go's ``Atoi`` and Spark's int
        cast both accept — and never aborts the job (the reference's
        skip-on-error path, embargo.go:272-276)."""
        df = spark.createDataFrame([(s,) for s in bad_strings], "d string")
        rows = df.select("d", fn.parse_date_int("d").alias("v")).collect()
        for r in rows:
            s8 = r["d"][:8]
            dated = len(s8) == 8 and all(c in "0123456789" for c in s8)
            assert r["v"] == (int(s8) if dated else None), f"parse({r['d']!r}) -> {r['v']}"

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
                min_size=0,
                max_size=30,
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_url_decode_roundtrip(self, spark, payloads):
        """F11: URL-safe base64 of any ASCII payload decodes back exactly."""
        enc = [
            (base64.urlsafe_b64encode(p.encode("ascii")).decode("ascii"), p)
            for p in payloads
        ]
        df = spark.createDataFrame(enc, "b64 string, want string")
        rows = df.select(
            fn.url_filename_decode("b64").alias("got"), "want"
        ).collect()
        for r in rows:
            assert r["got"] == r["want"]


class TestBucketPairsProperty:
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),   # bucket key
                st.integers(min_value=0, max_value=40),  # item id
            ),
            min_size=0,
            max_size=60,
        )
    )
    def test_pairs_match_bruteforce(self, spark, rows):
        """_bucket_pairs emits exactly the distinct i<j co-bucket pairs
        (as a set across buckets, since the helper drops the key)."""
        from collections import Counter
        from itertools import combinations

        from pyspark.sql import functions as F

        from etl_embargo_spark.operators.dedup import _bucket_pairs

        df = spark.createDataFrame(
            [(b, i) for b, i in rows] or [(0, 0)], "bucket int, doc_id int"
        )
        if not rows:
            df = df.limit(0)
        emitted = [
            (r["a"]["doc_id"], r["b"]["doc_id"])
            for r in _bucket_pairs(
                df, ["bucket"], F.struct(F.col("doc_id"))
            ).collect()
        ]
        by_bucket: dict[int, set] = {}
        for b, i in rows:
            by_bucket.setdefault(b, set()).add(i)
        want = Counter(
            (x, y)
            for ids in by_bucket.values()
            for x, y in combinations(sorted(ids), 2)
        )
        # exact multiset equality: one emission per co-bucket occurrence,
        # every pair ordered a < b
        assert Counter(emitted) == want
        assert all(a < b for a, b in emitted)


def _py_norm(text: str) -> str:
    """Pure-Python model of text.normalize_text."""
    import re

    t = text.lower()
    t = re.sub(r"[.,!?;:'\"()\[\]{}-]", "", t)
    t = re.sub(r"\s+", " ", t)
    return t.strip()


class TestCorpusScalarProperties:
    @settings(max_examples=15, deadline=None)
    @given(names_lists)
    def test_hash_bucket_range_and_determinism(self, spark, keys):
        """Buckets land in [0, 100) and re-evaluating the expression gives
        identical assignments (the whole point of content-hash sampling)."""
        from etl_embargo_spark.operators.sampling import hash_bucket

        df = spark.createDataFrame([(k,) for k in keys], "k string")
        out = df.select(
            "k", hash_bucket(F.col("k")).alias("b1"),
            hash_bucket(F.col("k")).alias("b2"),
        ).collect()
        for r in out:
            assert 0 <= r["b1"] < 100
            assert r["b1"] == r["b2"]
        # same key -> same bucket across rows
        seen: dict[str, int] = {}
        for r in out:
            assert seen.setdefault(r["k"], r["b1"]) == r["b1"]

    @settings(max_examples=15, deadline=None)
    @given(names_lists)
    def test_normalize_text_idempotent_and_matches_model(self, spark, texts):
        """normalize(normalize(x)) == normalize(x), and the Spark chain
        matches the pure-Python model character for character."""
        from etl_embargo_spark.operators.text import normalize_text

        df = spark.createDataFrame([(t,) for t in texts], "t string")
        out = df.select(
            "t",
            normalize_text(F.col("t")).alias("once"),
            normalize_text(normalize_text(F.col("t"))).alias("twice"),
        ).collect()
        for r in out:
            assert r["once"] == _py_norm(r["t"]), r["t"]
            assert r["twice"] == r["once"], r["t"]


class TestMergeBatchingInvariance:
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),   # key
                st.integers(min_value=0, max_value=50),  # version
                st.integers(min_value=0, max_value=99),  # payload
            ),
            min_size=1,
            max_size=30,
        ),
        st.integers(min_value=1, max_value=4),  # number of batches
    )
    def test_final_state_independent_of_batching(
        self, spark, changes, n_batches
    ):
        """Folding merge_last_writer_wins over ANY batching of a change
        log must produce the same final state as one merge over the whole
        log — the property that makes the streaming upsert sink correct
        regardless of micro-batch boundaries.  (event_id tie-break comes
        from the change's position, mirroring a log offset.)"""
        from etl_embargo_spark.streaming.upsert import merge_last_writer_wins

        rows = [
            (k, v, p, i) for i, (k, v, p) in enumerate(changes)
        ]  # (key, version, payload, offset)
        schema = "key long, version long, payload long, offset long"

        whole = merge_last_writer_wins(
            None,
            spark.createDataFrame(rows, schema),
            ["key"],
            ["version", "offset"],
        )

        # deterministic round-robin batching
        state = None
        for b in range(n_batches):
            batch = [r for i, r in enumerate(rows) if i % n_batches == b]
            if not batch:
                continue
            state = merge_last_writer_wins(
                state,
                spark.createDataFrame(batch, schema),
                ["key"],
                ["version", "offset"],
            )

        want = {tuple(r) for r in whole.collect()}
        got = {tuple(r) for r in state.collect()}
        assert got == want


class TestParetoProperty:
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=20240101, max_value=20240420),
                st.integers(min_value=0, max_value=50),
            ),
            min_size=0,
            max_size=50,
        )
    )
    def test_frontier_matches_bruteforce(self, spark, points):
        """The two-phase window skyline must equal the O(n²) strict-
        dominance brute force on arbitrary point sets — including ties on
        either axis (a tied point is NOT dominated)."""
        from etl_embargo_spark.operators.analytics import pareto_frontier

        rows = [
            (i, d, float(p)) for i, (d, p) in enumerate(points)
        ]
        want = {
            i
            for i, d, p in rows
            if not any(
                d2 > d and p2 > p for _, d2, p2 in rows
            )
        }
        if not rows:
            return
        df = spark.createDataFrame(
            rows, "o_orderkey long, date_int int, price double"
        )
        got = {r.o_orderkey for r in pareto_frontier(df).collect()}
        assert got == want


class TestWeightedSampleInvariance:
    def test_selection_invariant_under_repartition(self, spark, sf_dir):
        """The PPS systematic sample must pick the SAME doc_ids no
        matter how the input is partitioned — the whole point of the
        integer threshold-crossing rule (a seed-based sampler would
        shift with the layout)."""
        from etl_embargo_spark.operators.sampling import q_weighted_sample

        base = {
            (r.doc_id, r.bucket)
            for r in q_weighted_sample(spark, sf_dir).collect()
        }
        from etl_embargo_spark.catalog import load_table
        import etl_embargo_spark.operators.sampling as sampling
        from pyspark.sql import functions as F, Window

        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("n_chars") > 0)
            .repartition(7, "lang")  # adversarial layout
        )
        w = Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wp = Window.partitionBy("source")
        staged = docs.select(
            "doc_id",
            "n_chars",
            F.sum("n_chars").over(w).cast("bigint").alias("cum_hi"),
            F.sum("n_chars").over(wp).cast("bigint").alias("w_total"),
        )
        k = F.lit(sampling.WEIGHTED_K).cast("bigint")
        hi = F.floor(F.col("cum_hi") * k / F.col("w_total"))
        lo = F.floor(
            (F.col("cum_hi") - F.col("n_chars")) * k / F.col("w_total")
        )
        relaid = {
            (r.doc_id, r.bucket)
            for r in staged.filter(hi > lo)
            .select("doc_id", hi.cast("int").alias("bucket"))
            .collect()
        }
        assert base == relaid


class TestSnapshotModel:
    """Model-based property: any sequence of append/overwrite commits of
    small integer batches must make every historical version read back
    exactly what the Python list model says it held — manifests never
    lose, duplicate, or leak rows across versions."""

    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(["append", "overwrite"]),
                st.lists(
                    st.integers(min_value=0, max_value=99),
                    min_size=1,
                    max_size=5,
                ),
            ),
            min_size=1,
            max_size=5,
        )
    )
    @settings(max_examples=8, deadline=None)
    def test_history_matches_model(self, spark, tmp_path_factory, ops):
        from collections import Counter

        from etl_embargo_spark.sinks.snapshots import (
            read_snapshot,
            write_snapshot,
        )

        table = str(tmp_path_factory.mktemp("snapmodel"))
        model: list[Counter] = []
        for mode, batch in ops:
            df = spark.createDataFrame([(v,) for v in batch], "v int")
            write_snapshot(df, table, mode=mode)
            prev = model[-1] if (model and mode == "append") else Counter()
            model.append(prev + Counter(batch))
        for version, want in enumerate(model, start=1):
            got = Counter(
                r["v"]
                for r in read_snapshot(spark, table, version=version)
                .collect()
            )
            assert got == want, (version, got, want)


class TestSqlLiteralRoundTrip:
    @given(
        st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            min_size=1,
            max_size=30,
        )
    )
    @settings(max_examples=30, deadline=None)
    def test_float_pin_literal_round_trips_canonically(self, values):
        """The pinned-oracle float rendering (repr + CAST AS DOUBLE) must
        round-trip through DuckDB to the SAME CANONICAL VALUE the driver
        compare hashes — bit-exact for every double except -0.0, which
        DuckDB normalizes to +0.0 and the canonicalizer (str(int(v)) for
        integral doubles) deliberately equates."""
        import struct

        import duckdb

        from etl_embargo_spark.parity import _canon_value
        from etl_embargo_spark.registry import _sql_literal

        con = duckdb.connect()
        for v in values:
            got = con.execute(f"SELECT {_sql_literal(v)}").fetchone()[0]
            assert _canon_value(got) == _canon_value(v), (v, got)
            if v != 0.0:
                assert struct.pack("<d", got) == struct.pack("<d", v)

    @given(st.lists(st.text(max_size=40), min_size=1, max_size=20))
    @settings(max_examples=30, deadline=None)
    def test_string_pin_literal_round_trips(self, values):
        import duckdb

        from etl_embargo_spark.registry import _sql_literal

        con = duckdb.connect()
        for v in values:
            if "\x00" in v:
                continue  # NUL is not storable in a SQL literal
            got = con.execute(f"SELECT {_sql_literal(v)}").fetchone()[0]
            assert got == v, (repr(v), repr(got))


class TestMediaCodecProperties:
    @given(
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=16),
        st.binary(min_size=1, max_size=256),
    )
    @settings(max_examples=25, deadline=None)
    def test_ppm_encode_decode_identity(self, w, h, seed_bytes):
        """Encoding arbitrary pixel data as P6 and re-decoding through the
        numpy header parser recovers the exact dims and pixel block —
        the identity the real-codec path rests on."""
        import numpy as np

        need = w * h * 3
        pixels = np.resize(
            np.frombuffer(seed_bytes, dtype=np.uint8), need
        )
        payload = f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()
        # replicate the kernel's parse exactly
        parts = payload.split(maxsplit=4)
        gw, gh = int(parts[1]), int(parts[2])
        hdr_len = len(payload) - (gw * gh * 3)
        px = np.frombuffer(payload[hdr_len:], dtype=np.uint8)
        assert (gw, gh) == (w, h)
        assert np.array_equal(px, pixels)

    @given(st.binary(min_size=2, max_size=400))
    @settings(max_examples=25, deadline=None)
    def test_wav_encode_decode_identity(self, raw):
        """PCM16 WAV encode → RIFF chunk-walk decode recovers the exact
        sample array and rate for arbitrary payload sizes."""
        import struct

        import numpy as np

        rate = 8000
        samples = (
            np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
        ) * 64
        data = samples.tobytes()
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
        )
        b = hdr + data
        # replicate the kernel's chunk walk
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        pos, got_rate, got_data = 12, 0, b""
        while pos + 8 <= len(b):
            cid = b[pos:pos + 4]
            clen = struct.unpack("<I", b[pos + 4:pos + 8])[0]
            body = b[pos + 8:pos + 8 + clen]
            if cid == b"fmt ":
                got_rate = struct.unpack("<I", body[4:8])[0]
            elif cid == b"data":
                got_data = body
            pos += 8 + clen + (clen % 2)
        assert got_rate == rate
        assert np.array_equal(
            np.frombuffer(got_data, dtype=np.int16), samples
        )


def _edge_case_graph(draw):
    """Edge list over a small id range (negative ids included) so ids
    collide: random edges (self-loops when both ends agree), one long
    chain whose ids may run downwards, then duplicates of drawn edges,
    each possibly reversed, all shuffled."""
    node = st.integers(min_value=-30, max_value=60)
    edges = draw(st.lists(st.tuples(node, node), max_size=25))
    start = draw(node)
    step = draw(st.sampled_from([1, -1]))
    length = draw(st.integers(min_value=0, max_value=40))
    edges += [(start + step * i, start + step * (i + 1)) for i in range(length)]
    if edges:
        for a, b in draw(st.lists(st.sampled_from(edges), max_size=10)):
            edges.append((b, a) if draw(st.booleans()) else (a, b))
    return draw(st.permutations(edges))


edge_lists = st.composite(_edge_case_graph)()


def _union_find_oracle(edges) -> dict:
    """Sequential union-find: node -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class TestClusterProperties:
    """``dedup.dedup_clusters`` on both sides of its size switch equals a
    sequential union-find, each representative the minimum of its
    component."""

    @settings(max_examples=200, deadline=None)
    @given(edge_lists)
    @example(edges=[(5, 5)])
    @example(edges=[])
    def test_driver_union_find_matches_oracle(self, edges):
        import numpy as np

        from etl_embargo_spark.operators.dedup import _union_find_labels

        a = np.array([e[0] for e in edges], dtype=np.int64)
        b = np.array([e[1] for e in edges], dtype=np.int64)
        ids, reps = _union_find_labels(a, b)
        assert dict(zip(ids.tolist(), reps.tolist())) == _union_find_oracle(edges)

    def _check(self, spark, edges, bound):
        from unittest import mock

        from etl_embargo_spark.operators import dedup

        pairs = spark.createDataFrame(edges, "a long, b long")
        with mock.patch.object(dedup, "_UF_MAX_EDGES", bound):
            rows = dedup.dedup_clusters(pairs, pointer_doubling=True).collect()
        got = {r["doc_id"]: r["cluster"] for r in rows}
        assert len(got) == len(rows), "a node appears twice"
        assert got == _union_find_oracle(edges)

    @settings(max_examples=20, deadline=None)
    @given(edge_lists)
    @example(edges=[(7, 7), (7, 7), (3, 2), (2, 3)])
    def test_driver_path_matches_oracle(self, spark, edges):
        from etl_embargo_spark.operators.dedup import _UF_MAX_EDGES

        self._check(spark, edges, _UF_MAX_EDGES)

    @settings(max_examples=4, deadline=None)
    @given(edge_lists.filter(bool))
    @example(edges=[(7, 7), (7, 7), (3, 2), (2, 3)])
    def test_distributed_path_matches_oracle(self, spark, edges):
        self._check(spark, edges, 0)


# ---------------------------------------------------------------------------
# embargo_day against the independent three-term oracle, rerun included
# ---------------------------------------------------------------------------

_WL_IPS = ["10.0.0.1", "10.0.0.2", "2001:db8::1", "2001:db8::a:2"]
_IPS = st.one_of(
    st.sampled_from(_WL_IPS),  # whitelistable
    st.sampled_from(["192.0.2.7", "2001:db8::99"]),  # strangers
    st.sampled_from(["2001:zz8::1", "2001:db8::1::2", "300.1.2.3x", ""]),  # malformed
    st.sampled_from(["2001:db8:::1", "2001:db8:::a:2"]),  # the ``:::`` spelling
)
_ARCHIVE_STEMS = {
    "new": ["20170301T000000Z-mlab1-sea01-sidestream"],
    "old": ["20150814T000000Z-mlab2-lga03-sidestream"],
    "undated": ["sidestream-nuq02"],
    # numbers that Go's Atoi or Spark's int cast would read as a date
    # older than any cutoff; the oracle calls them undated
    "signed": [
        " 2017010T000000Z-mlab1-sea01-sidestream",
        "+2017010T000000Z-mlab1-sea01-sidestream",
        "-1234567T000000Z-mlab1-sea01-sidestream",
        "2017010 T000000Z-mlab1-sea01-sidestream",
    ],
}


@st.composite
def _member(draw, i):
    """A sidestream-shaped basename with 0-3 underscores."""
    ip = draw(_IPS)
    ext = draw(st.sampled_from(["web100", "paris"]))
    head, tail = f"20170301T00000{i % 10}Z", f"{i:05d}.{ext}"
    return [
        f"{head}{ip}{tail}",
        f"{head}_{ip}{tail}",
        f"{head}_{ip}_{tail}",
        f"{head}_{ip}_x_{tail}",
    ][draw(st.integers(0, 3))]


@st.composite
def _days(draw):
    kinds = draw(st.lists(st.sampled_from(sorted(_ARCHIVE_STEMS)), min_size=1, max_size=3))
    archives = {
        f"{draw(st.sampled_from(_ARCHIVE_STEMS[kind]))}-{a:04d}.tgz": [
            draw(_member(i)) for i in range(draw(st.integers(1, 5)))
        ]
        for a, kind in enumerate(kinds)
    }
    whitelists = draw(st.lists(st.lists(st.sampled_from(_WL_IPS), unique=True), min_size=2, max_size=2))
    return archives, whitelists


class TestEmbargoDayProperty:
    @settings(max_examples=10, deadline=None)
    @given(_days())
    @example((  # every entry turns private on the rerun
        {"20170301T000000Z-mlab1-sea01-sidestream-0000.tgz": ["20170301T000000Z_10.0.0.1_00000.web100"]},
        [["10.0.0.1"], []],
    ))
    @example((  # a signed or padded prefix is undated, so these stay private
        {
            f"{stem}-{a:04d}.tgz": [f"20170301T00000{a}Z_192.0.2.7_00000.web100"]
            for a, stem in enumerate(_ARCHIVE_STEMS["signed"])
        },
        [[], ["10.0.0.1"]],
    ))
    def test_embargo_day_and_rerun_match_oracle(self, spark, write_day, day):
        """Tiny drawn days (dated new, dated old, undated, and signed or
        space-padded archive names; web100 or not; whitelisted, stranger,
        malformed and ``:::`` IPs; 0-3 underscores) through ``embargo_day(repack=True)``, then a
        rerun into the same directories under a second drawn whitelist:
        after each run the routed parquet and the re-read blobs equal the
        pure-Python three-term rule for that run's whitelist."""
        from perfbench import oracle

        from etl_embargo_spark.plans.embargo_pipeline import embargo_day

        archives, whitelists = day
        with tempfile.TemporaryDirectory() as root:
            inputs = write_day(os.path.join(root, "day"), archives)
            routed, blobs = os.path.join(root, "routed"), os.path.join(root, "blobs")
            for wl in whitelists:
                embargo_day(
                    spark, inputs["archive_glob"],
                    spark.createDataFrame([(ip,) for ip in wl], "ip string"),
                    routed, inputs["cutoff_int"], repack=True, repack_dir=blobs,
                )
                expected = oracle.expected_embargo({**inputs, "whitelist": wl})
                oracle.check_embargo(expected, routed, blobs)


# ---------------------------------------------------------------------------
# overwrite_merge's duplicate-key rule against a pure-Python model
# ---------------------------------------------------------------------------


def _merge_model(base, updates):
    """Per key: the rows of the highest-priority side that has the key
    (updates over base), then the smallest payload, nulls first."""
    best = {}
    for priority, rows in ((1, base), (2, updates)):
        for key, *payload in rows:
            rank = (-priority, [(v is not None, v) for v in payload])
            if key not in best or rank < best[key][0]:
                best[key] = (rank, (key, *payload))
    return sorted(row for _, row in best.values())


_listing_rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.one_of(st.none(), st.integers(0, 3)),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
    ),
    max_size=25,
)


class TestOverwriteMergeProperty:
    @settings(max_examples=15, deadline=None)
    @given(_listing_rows, _listing_rows)
    def test_duplicate_keys_match_model(self, spark, base, updates):
        """Duplicate keys within and across both sides, null payloads
        included, spread over several partitions: one row per key, chosen
        by the documented rule."""
        from etl_embargo_spark.operators.setops import overwrite_merge

        schema = "key int, size int, etag string"
        b = spark.createDataFrame(base, schema).repartition(3)
        u = spark.createDataFrame(updates, schema).repartition(2)
        got = sorted(map(tuple, overwrite_merge(b, u, "key", ["size", "etag"]).collect()))
        assert got == _merge_model(base, updates)


_key_lists = st.lists(
    st.one_of(st.none(), st.sampled_from(["k1", "k2", "k3", "k4"])), max_size=20
)


def _compare_model(a, b):
    """Python sets: a null key is a key, as in SQL ``EXCEPT``."""
    left, right = set(a), set(b)
    return sorted(
        [(k, "only_left") for k in left - right]
        + [(k, "only_right") for k in right - left],
        key=lambda r: (r[0] is not None, r[0] or "", r[1]),
    )


class TestCompareListingsProperty:
    @settings(max_examples=15, deadline=None)
    @given(_key_lists, _key_lists)
    @example(["k1", "k2"], ["k2", "k3", None])
    @example([None, "k1", "k1"], [None, "k2", "k2"])
    def test_matches_set_model(self, spark, a, b):
        """Null keys and duplicates on both sides, spread over several
        partitions: each key present in exactly one listing appears once,
        tagged with its side."""
        from etl_embargo_spark.operators.setops import compare_listings

        left = spark.createDataFrame([(k,) for k in a], "key string").repartition(3)
        right = spark.createDataFrame([(k,) for k in b], "key string").repartition(2)
        got = sorted(
            map(tuple, compare_listings(left, right, "key").collect()),
            key=lambda r: (r[0] is not None, r[0] or "", r[1]),
        )
        assert got == _compare_model(a, b)


class TestSyncMissingProperty:
    @settings(max_examples=15, deadline=None)
    @given(_key_lists, _key_lists)
    @example([None, "k1", "k2"], [None, "k1"])
    def test_copies_only_left_keys(self, spark, a, b):
        """Null keys and duplicates on both sides, spread over several
        partitions: the keys ``sync_missing`` copies are ``compare_listings``'
        ``only_left`` keys and the set model's ``a - b``, null included, and
        every source row of such a key is copied."""
        from etl_embargo_spark.operators.setops import compare_listings, sync_missing

        src_rows = [(k, i) for i, k in enumerate(a)]
        src = spark.createDataFrame(src_rows, "key string, size int").repartition(3)
        dst = spark.createDataFrame([(k,) for k in b], "key string").repartition(2)
        synced = sync_missing(src, dst, "key").collect()
        diff = compare_listings(src.select("key"), dst, "key")
        only_left = {r.key for r in diff.filter(F.col("side") == "only_left").collect()}
        missing = set(a) - set(b)
        assert {r.key for r in synced} == only_left == missing
        assert sorted(map(tuple, synced), key=lambda r: r[1]) == [
            r for r in src_rows if r[0] in missing
        ]
