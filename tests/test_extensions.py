"""Pytest oracles for the rows-only extension operators: brute-force
reference implementations in plain Python/numpy, recall/precision gates for
the approximate paths, and batch↔streaming parity.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F


def _doc_texts(spark, sf_dir):
    from etl_embargo_spark.catalog import load_table

    return {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }


def _shingle_set(text: str, width: int = 3) -> frozenset:
    toks = text.strip().lower().split()
    if len(toks) < width:
        return frozenset([" ".join(toks)])
    return frozenset(
        " ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)
    )


class TestMinHash:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        """Every pair with true Jaccard ≥ 0.7 must be recalled by the LSH
        candidates; reported pairs (≥ 0.5 post-verify) must be truly ≥ 0.5."""
        from etl_embargo_spark.operators.dedup import minhash_pairs

        texts = _doc_texts(spark, sf_dir)
        sets = {d: _shingle_set(t) for d, t in texts.items()}
        true_pairs = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / len(sets[a] | sets[b])
            if j >= 0.5:
                true_pairs[(a, b)] = j

        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_pairs(spark, sf_dir).collect()
        }
        # precision: everything reported really has Jaccard >= 0.5
        for (a, b), j in got.items():
            assert j >= 0.5
            assert abs(true_pairs.get((a, b), 0.0) - j) < 1e-3
        # recall: high-similarity pairs must be found (LSH with 4 bands of 4
        # at s=0.7 has hit prob 1-(1-0.7^4)^4 ≈ 0.73 per band family; the
        # verified threshold is 0.5 so only assert on very-high-sim pairs)
        must_find = {p for p, j in true_pairs.items() if j >= 0.9}
        assert must_find.issubset(set(got)), must_find - set(got)


class TestNgramJaccardBanding:
    def test_adjacent_band_pairs_survive(self, spark):
        """The base-5 shingle-count banding must be EXACT: a corpus built
        around the 5^k band edges (prefix-contained docs at size ratio
        exactly 5, straddling 25 and 125) yields the same qualifying-pair
        set as an unblocked brute force."""
        import itertools as it

        from etl_embargo_spark.operators.dedup import ngram_jaccard_pairs

        words = [f"w{i:04d}" for i in range(400)]

        def doc(n_tokens):
            return " ".join(words[:n_tokens])

        rows = [
            # ratio exactly 5 across the 25 edge: 24 vs 120 shingles
            (1, "en", "web", doc(26)),
            (2, "en", "web", doc(122)),
            # ratio exactly 5 across the 125 edge: 120 vs 600 shingles
            (3, "en", "web", doc(602)),
            # same-band pair (120 vs 122 shingles)
            (4, "en", "web", doc(124)),
            # just over the ratio bound vs doc 1: 24 vs 130 -> J < 0.2
            (5, "en", "web", doc(132)),
            # different block: must never pair with the others
            (6, "de", "web", doc(122)),
            # short-doc path (single whole-text shingle)
            (7, "en", "web", "tiny doc"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs).collect()
        }

        def sh(text):
            toks = text.strip().lower().split()
            if len(toks) < 3:
                return frozenset([" ".join(toks)])
            return frozenset(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )

        sets = {r[0]: sh(r[3]) for r in rows}
        blocks = {r[0]: (r[1], r[2]) for r in rows}
        expect = {}
        for a, b in it.combinations(sorted(sets), 2):
            if blocks[a] != blocks[b]:
                continue
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.2:
                expect[(a, b)] = round(j, 6)
        # the two ratio-exactly-5 adjacent-band pairs MUST be present —
        # this is the edge the banding proof hinges on
        assert (1, 2) in expect and (2, 3) in expect
        assert got == expect, (got, expect)

    def test_block_kernel_paths_agree_with_brute_force(self):
        """Spark-free A/B of the hybrid block kernel (round 6): the dense
        one-hot GEMM path (small shingle universe) and the sparse
        co-occurrence path (universe > 4n) must both equal a brute-force
        reference BIT-EXACTLY — J is one IEEE division of exact integer
        counts on every path, so equality is ==, not approx."""
        import numpy as np
        import pandas as pd

        from etl_embargo_spark.operators.dedup import (
            _make_jaccard_block_kernel,
        )

        rng = np.random.default_rng(7)
        kernel = _make_jaccard_block_kernel(0.2)

        def run_case(vocab_size, n_docs, sh_lo, sh_hi):
            sets = [
                np.unique(
                    rng.integers(0, vocab_size, rng.integers(sh_lo, sh_hi))
                ).astype(np.int64)
                for _ in range(n_docs)
            ]
            bands = np.array(
                [1 + (len(s) >= 25) for s in sets], dtype=np.int64
            )
            block = int(bands.min())
            pdf = pd.DataFrame(
                {
                    "doc_id": np.arange(n_docs, dtype=np.int64) * 3 + 11,
                    "band": bands,
                    "_block": block,
                    "sh": sets,
                }
            )
            got = kernel(pdf)
            got_map = {
                (a, b): j
                for a, b, j in zip(
                    got["doc_a"], got["doc_b"], got["_j"]
                )
            }
            expect = {}
            for i in range(n_docs):
                for j_ in range(i + 1, n_docs):
                    inter = len(
                        np.intersect1d(sets[i], sets[j_])
                    )
                    union = len(sets[i]) + len(sets[j_]) - inter
                    jv = float(inter) / float(union)
                    if jv >= 0.2 and min(bands[i], bands[j_]) == block:
                        expect[(11 + 3 * i, 11 + 3 * j_)] = jv
            assert got_map == expect, (vocab_size, got_map, expect)
            return len(expect)

        # tiny universe → dense GEMM path (nu <= 4n); lots of pairs
        n_dense = run_case(vocab_size=30, n_docs=40, sh_lo=8, sh_hi=28)
        assert n_dense > 10  # the case actually exercises pair emission
        # huge universe → sparse co-occurrence path; seed overlap via
        # duplicated sets so some pairs still qualify
        rng2 = np.random.default_rng(13)
        big_sets = [
            np.unique(rng2.integers(0, 10**9, 40)).astype(np.int64)
            for _ in range(30)
        ]
        # make docs 0/1 near-dups and 2/3 exact dups
        big_sets[1] = np.unique(
            np.concatenate([big_sets[0][:35], big_sets[1][:5]])
        )
        big_sets[3] = big_sets[2].copy()
        bands = np.array([2] * len(big_sets), dtype=np.int64)
        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(len(big_sets), dtype=np.int64),
                "band": bands,
                "_block": 2,
                "sh": big_sets,
            }
        )
        got = kernel(pdf)
        got_map = {
            (a, b): j
            for a, b, j in zip(got["doc_a"], got["doc_b"], got["_j"])
        }
        inter01 = len(np.intersect1d(big_sets[0], big_sets[1]))
        j01 = inter01 / (
            len(big_sets[0]) + len(big_sets[1]) - inter01
        )
        assert got_map[(0, 1)] == j01
        assert got_map[(2, 3)] == 1.0
        for (a, b), j in got_map.items():
            assert j >= 0.2 and a < b

    def test_sparse_merge_compaction_is_output_identical(self):
        """Spark-free A/B of the incremental merge compaction (ADVICE
        r7): with chunk_pairs/merge_codes forced tiny, slices are
        single-gram-group sized and compaction fires after nearly every
        slice — the emitted (pair, J) map must equal the default
        one-shot merge BIT-EXACTLY (counts sum associatively; J is the
        same single IEEE division)."""
        import numpy as np
        import pandas as pd

        from etl_embargo_spark.operators.dedup import (
            _make_jaccard_block_kernel,
        )

        rng = np.random.default_rng(29)
        # sparse path (nu > 4n) with heavy cross-slice overlap: 40-doc
        # block drawn from a 4000-gram space with a shared 30-gram core
        # so most pairs share MANY grams and their counts genuinely
        # span compaction boundaries
        core = np.unique(rng.integers(0, 10**9, 30)).astype(np.int64)
        sets = [
            np.unique(
                np.concatenate(
                    [core, rng.integers(0, 10**9, 25).astype(np.int64)]
                )
            )
            for _ in range(40)
        ]
        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(40, dtype=np.int64),
                "band": np.array([2] * 40, dtype=np.int64),
                "_block": 2,
                "sh": sets,
            }
        )
        baseline = _make_jaccard_block_kernel(0.2)(pdf)
        forced = _make_jaccard_block_kernel(
            0.2, merge_codes=8, chunk_pairs=16
        )(pdf)
        to_map = lambda df: {  # noqa: E731
            (a, b): j
            for a, b, j in zip(df["doc_a"], df["doc_b"], df["_j"])
        }
        bm, fm = to_map(baseline), to_map(forced)
        assert len(bm) > 100  # the case actually stresses the merge
        assert fm == bm


class TestSimHash:
    def test_near_dups_are_similar(self, spark, sf_dir):
        """SimHash pairs within the default radius should share vocabulary:
        verify reported pairs do overlap, and identical texts are found."""
        from etl_embargo_spark.operators.dedup import simhash_pairs

        texts = _doc_texts(spark, sf_dir)
        rows = simhash_pairs(spark, sf_dir).collect()
        for r in rows[:50]:
            ta = set(texts[r["doc_a"]].lower().split())
            tb = set(texts[r["doc_b"]].lower().split())
            overlap = len(ta & tb) / max(1, min(len(ta), len(tb)))
            assert overlap > 0.3, (r["doc_a"], r["doc_b"], overlap)
        # exact duplicates (same text) must appear at hamming 0
        by_text = {}
        for d, t in texts.items():
            by_text.setdefault(t, []).append(d)
        dup_pairs = {
            (min(a, b), max(a, b))
            for ds in by_text.values()
            if len(ds) > 1
            for a, b in itertools.combinations(ds, 2)
        }
        got = {(r["doc_a"], r["doc_b"]) for r in rows}
        assert dup_pairs.issubset(got)


class TestEmbeddingDedup:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.dedup import embedding_pairs

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }
        ids = sorted(emb)
        mat = np.stack([emb[i] for i in ids])
        normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = normed @ normed.T
        true_pairs = {
            (ids[i], ids[j]): sims[i, j]
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if sims[i, j] >= 0.45
        }
        assert true_pairs, "data should contain pairs above the 0.45 threshold"
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in embedding_pairs(spark, sf_dir).collect()
        }
        assert got, "LSH should surface at least some qualifying pairs"
        # precision is exact (per-pair cosine verified in-engine)
        for pair, c in got.items():
            assert pair in true_pairs and abs(true_pairs[pair] - c) < 1e-4
        # recall of 8 tables x 4 planes on the closest pairs: at the top of
        # this data's similarity range (~0.5) expect well over half found
        top = sorted(true_pairs, key=true_pairs.get, reverse=True)[:10]
        found = set(top) & set(got)
        assert len(found) / len(top) >= 0.5, (top, sorted(got)[:10])


class TestANN:
    def test_ivf_recall_vs_brute_force(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import (
            _query_vector,
            brute_force_topk,
            q_ann_ivf,
        )

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") != 0
        )
        query = _query_vector(spark, sf_dir, 0)
        exact = [r["vec_id"] for r in brute_force_topk(emb, query, 10).collect()]
        approx = [r["vec_id"] for r in q_ann_ivf(spark, sf_dir).collect()]
        # nprobe=4/16 → expect decent overlap, not exactness
        assert len(set(exact) & set(approx)) >= 3, (exact, approx)

    def test_brute_force_is_exact(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import (
            _query_vector,
            brute_force_topk,
        )

        rows = load_table(spark, sf_dir, "embeddings").collect()
        emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
        q = emb[0]
        sims = {
            i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for i, v in emb.items()
            if i != 0
        }
        expect = [
            i for i, _ in sorted(sims.items(), key=lambda t: (-round(t[1], 6), t[0]))
        ][:10]
        got = [
            r["vec_id"]
            for r in brute_force_topk(
                load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0),
                list(q),
                10,
            ).collect()
        ]
        assert got == expect


class TestFingerprint:
    def test_deterministic_and_shift_invariant(self, spark, sf_dir):
        from etl_embargo_spark.operators.text import doc_fingerprints

        a = {r["doc_id"]: tuple(r["fingerprint"]) for r in doc_fingerprints(spark, sf_dir).collect()}
        b = {r["doc_id"]: tuple(r["fingerprint"]) for r in doc_fingerprints(spark, sf_dir).collect()}
        assert a == b  # deterministic
        assert all(len(v) > 0 for v in a.values())

    def test_identical_texts_same_fingerprint(self, spark, sf_dir):
        from etl_embargo_spark.operators.text import doc_fingerprints

        texts = _doc_texts(spark, sf_dir)
        fps = {r["doc_id"]: tuple(r["fingerprint"]) for r in doc_fingerprints(spark, sf_dir).collect()}
        by_text = {}
        for d, t in texts.items():
            if t:
                by_text.setdefault(t, []).append(d)
        for ds in by_text.values():
            if len(ds) > 1:
                assert len({fps[d] for d in ds if d in fps}) == 1


class TestMultimodal:
    def test_feature_plumbing(self, spark, sf_dir):
        from etl_embargo_spark.operators.multimodal import (
            extract_features,
            frame_sample,
            synthetic_media,
        )

        media = synthetic_media(spark, sf_dir)
        feats = extract_features(media)
        rows = feats.collect()
        assert {r["media_type"] for r in rows} == {"image", "audio", "video"}
        assert all(len(r["features"]) == 8 for r in rows)
        assert all(r["n_bytes"] > 0 for r in rows)
        # images have exactly one frame; frame sampling only emits video rows
        assert all(r["n_frames"] == 1 for r in rows if r["media_type"] == "image")
        sampled = frame_sample(feats, every_n=5)
        assert sampled.filter(F.col("frame_idx") % 5 != 0).count() == 0

    def test_real_ppm_and_wav_decode(self, spark, sf_dir):
        """The codec step is REAL for netpbm and PCM WAV: decoded dims
        come from the payload header, features from the actual pixels /
        samples — verified by an independent pure-python re-decode."""
        import struct

        import numpy as np

        from etl_embargo_spark.operators.multimodal import (
            extract_features,
            synthetic_media,
        )

        media = synthetic_media(spark, sf_dir)
        raw = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
        feats = {
            r["media_id"]: r
            for r in extract_features(media).collect()
        }
        n_ppm = n_wav = 0
        for mid, b in raw.items():
            r = feats[mid]
            if b[:2] == b"P6":
                n_ppm += 1
                assert r["codec"] == "ppm"
                hdr = b.split(b"\n", 3)
                w, h = map(int, hdr[1].split())
                assert (r["width"], r["height"]) == (w, h)
                px = np.frombuffer(b[-(w * h * 3):], dtype=np.uint8)
                assert abs(r["features"][2] - px.reshape(-1, 3)[:, 0].mean()) < 1e-3
            elif b[:4] == b"RIFF":
                n_wav += 1
                assert r["codec"] == "wav-pcm"
                rate = struct.unpack("<I", b[24:28])[0]
                assert r["features"][0] == rate
                samples = np.frombuffer(b[44:], dtype=np.int16).astype(float)
                assert r["n_frames"] == samples.size
                rms = np.sqrt((samples ** 2).mean())
                assert abs(r["features"][3] - rms) < max(1e-2, rms * 1e-5)
            else:
                assert r["codec"] == "opaque"
        assert n_ppm > 0 and n_wav > 0

    def test_storage_profile_matches_real_payload_lengths(self, spark, sf_dir):
        """q_media_storage derives byte sizes from metadata alone (pure
        codegen, no payload materialization) — its arithmetic must agree
        exactly with length(content) of the actually-synthesized
        payloads."""
        from pyspark.sql import functions as F

        from etl_embargo_spark.operators.multimodal import (
            q_media_storage,
            synthetic_media,
        )

        real = (
            synthetic_media(spark, sf_dir)
            .select("media_type", F.length("content").alias("nb"))
            .groupBy("media_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("nb").alias("total"),
                F.max("nb").alias("mx"),
            )
        )
        want = {r["media_type"]: r for r in real.collect()}
        got = (
            q_media_storage(spark, sf_dir)
            .groupBy("media_type")
            .agg(
                F.sum("n_objects").alias("n"),
                F.sum("total_bytes").alias("total"),
                F.max("max_bytes").alias("mx"),
            )
            .collect()
        )
        assert len(got) == len(want)
        for r in got:
            w = want[r["media_type"]]
            assert (r["n"], r["total"], r["mx"]) == (w["n"], w["total"], w["mx"])

    def test_resize_really_resamples_ppm(self, spark, sf_dir):
        """fit-within 8×8 must rewrite PPM payloads: new header dims ≤ 8,
        pixel block shrunk to w*h*3, aspect preserved."""
        from etl_embargo_spark.operators.multimodal import (
            resize_media,
            synthetic_media,
        )

        media = synthetic_media(spark, sf_dir)
        out = resize_media(media, target_w=8, target_h=8)
        orig = {r["media_id"]: r for r in media.collect()}
        shrunk = 0
        for r in out.collect():
            b = bytes(r["content"])
            if b[:2] != b"P6":
                continue
            hdr = b.split(b"\n", 3)
            w, h = map(int, hdr[1].split())
            assert w <= 8 and h <= 8
            assert (w, h) == (r["declared_w"], r["declared_h"])
            assert len(b.split(b"\n", 3)[3]) == w * h * 3
            o = orig[r["media_id"]]
            if o["declared_w"] > 8 or o["declared_h"] > 8:
                shrunk += 1
                assert len(b) < len(bytes(o["content"]))
        assert shrunk > 0


class TestStreaming:
    def test_available_now_matches_batch(self, spark, sf_dir, tmp_path):
        """ST1: the streaming windowed aggregation over the events table,
        drained with availableNow in complete mode (memory sink — no
        watermark eviction), equals the batch computation exactly."""
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.streaming.daily import (
            stream_events_from_parquet,
            windowed_event_counts,
        )

        events = load_table(spark, sf_dir, "events")
        src_dir = str(tmp_path / "events_src")
        events.write.parquet(src_dir)

        stream = stream_events_from_parquet(spark, src_dir, events.schema)
        agg = windowed_event_counts(stream, window="1 hour").select(
            "window_start", "event_type", "n_events", "total_value"
        )
        q = (
            agg.writeStream.trigger(availableNow=True)
            .outputMode("complete")
            .format("memory")
            .queryName("win_counts")
            .start()
        )
        q.awaitTermination(120)

        got = spark.sql("SELECT * FROM win_counts")
        want = windowed_event_counts(events, window="1 hour")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_append_sink_is_exactly_once_and_correct(self, spark, sf_dir, tmp_path):
        """ST3: the append-mode parquet sink emits only watermark-final
        windows; every emitted row matches the batch result, and re-running
        with the same checkpoint adds nothing (exactly-once)."""
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.streaming.daily import (
            run_available_now,
            stream_events_from_parquet,
            windowed_event_counts,
        )

        events = load_table(spark, sf_dir, "events")
        src_dir = str(tmp_path / "events_src")
        events.write.parquet(src_dir)

        counts = []
        for _ in range(2):
            stream = stream_events_from_parquet(spark, src_dir, events.schema)
            agg = windowed_event_counts(stream, window="1 hour").select(
                "window_start", "event_type", "n_events", "total_value"
            )
            q = run_available_now(
                agg, str(tmp_path / "ckpt"), str(tmp_path / "out")
            )
            q.awaitTermination(120)
            counts.append(spark.read.parquet(str(tmp_path / "out")).count())

        # exactly-once across reruns
        assert counts[0] == counts[1]
        # emitted rows are a subset of (and value-identical to) batch rows
        got = set(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
        want = set(
            map(
                tuple,
                windowed_event_counts(events, window="1 hour").collect(),
            )
        )
        assert got.issubset(want)
        assert len(got) > 0


class TestKnnJoin:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        """Average recall@5 of the LSH kNN join vs exact neighbor lists."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import knn_join

        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        np.fill_diagonal(sims, -2.0)
        k = 5
        exact = {
            int(ids[i]): set(ids[np.argsort(-sims[i])[:k]].tolist())
            for i in range(len(ids))
        }
        got: dict[int, set] = {}
        for r in knn_join(emb, k=k).collect():
            got.setdefault(int(r["vec_id"]), set()).add(int(r["neighbor_id"]))
        recalls = [
            len(got.get(v, set()) & exact[v]) / k for v in exact
        ]
        assert sum(recalls) / len(recalls) >= 0.35, sum(recalls) / len(recalls)

    def test_k_bound_and_rank_order(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import knn_join

        emb = load_table(spark, sf_dir, "embeddings")
        out = knn_join(emb, k=3)
        import pyspark.sql.functions as F

        per_vec = out.groupBy("vec_id").count()
        assert per_vec.filter(F.col("count") > 3).count() == 0


class TestMultimodalResize:
    def test_fit_within_never_upscales(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_embargo_spark.operators.multimodal import (
            resize_media,
            synthetic_media,
        )

        media = synthetic_media(spark, sf_dir)
        out = resize_media(media, target_w=128, target_h=128)
        rows = out.collect()
        orig = {r["media_id"]: r for r in media.collect()}
        for r in rows:
            o = orig[r["media_id"]]
            assert r["declared_w"] <= 128 and r["declared_h"] <= 128
            assert r["declared_w"] <= o["declared_w"]  # never upscale
            assert r["declared_h"] <= o["declared_h"]
            # aspect ratio preserved within integer rounding
            if o["declared_w"] >= o["declared_h"]:
                assert r["declared_w"] >= r["declared_h"] - 1
        # payload passes through the stub untouched
        assert all(
            bytes(r["content"]) == bytes(orig[r["media_id"]]["content"])
            for r in rows
        )


class TestObservedMetrics:
    def test_counters_attach_to_the_job(self, spark, sf_dir):
        """A3 live form: df.observe must yield the same counters as the
        batch rollup, with no second scan."""
        from etl_embargo_spark.operators.aggregates import observed_metrics
        from etl_embargo_spark.operators.embargo import split_partition

        classified = split_partition(spark, sf_dir)
        observed = observed_metrics(classified, name="m1")
        collected = observed.collect()
        # Spark exposes observed metrics on the last query execution
        metrics = observed._jdf.queryExecution().observedMetrics()
        row = metrics.get("m1").get()
        total, n_public, n_private = row.getLong(0), row.getLong(1), row.getLong(2)
        assert total == len(collected)
        assert n_public + n_private == total
        want_public = sum(1 for r in collected if r["visibility"] == "public")
        assert n_public == want_public

    def test_observation_collector_captures_counters(self, spark, sf_dir):
        """Listener-backed consumption (VERDICT next-round #7): a
        pyspark.sql.Observation passed to observed_metrics must hold the
        counter values after the action completes — the Prometheus-export
        analog of metrics.go:79-102, with no second scan."""
        from pyspark.sql import Observation

        from etl_embargo_spark.operators.aggregates import observed_metrics
        from etl_embargo_spark.operators.embargo import split_partition

        classified = split_partition(spark, sf_dir)
        obs = Observation("etl_metrics")
        observed = observed_metrics(classified, obs)
        n = observed.count()
        got = obs.get
        assert got["files_total"] == n
        assert got["files_public"] + got["files_private"] == n
        want_public = classified.filter("visibility = 'public'").count()
        assert got["files_public"] == want_public


class TestSampling:
    def test_stratified_fractions(self, spark, sf_dir):
        """sampleBy must land within a loose Bernoulli tolerance of the
        requested per-stratum fraction, and be reproducible for the seed."""
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sampling import q_stratified_sample

        docs = load_table(spark, sf_dir, "documents")
        totals = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        got = {
            r["lang"]: r["n"]
            for r in q_stratified_sample(spark, sf_dir)
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for lang, total in totals.items():
            frac = 0.5 if lang == "en" else 0.25
            # 4-sigma Bernoulli tolerance (small strata at sf0.001)
            tol = 4 * (frac * (1 - frac) / total) ** 0.5
            assert abs(got.get(lang, 0) / total - frac) <= tol, (lang, got)
        again = sorted(
            r["doc_id"] for r in q_stratified_sample(spark, sf_dir).collect()
        )
        first = sorted(
            r["doc_id"] for r in q_stratified_sample(spark, sf_dir).collect()
        )
        assert again == first

    def test_hash_split_is_stable_under_repartition(self, spark, sf_dir):
        """The md5-bucket split must assign the same rows to the same split
        regardless of physical layout — the property seeded randomSplit
        lacks and the whole reason to hash-split a training corpus."""
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sampling import (
            _lineitem_key,
            train_test_split,
        )

        li = load_table(spark, sf_dir, "lineitem")
        base = {
            (r["l_orderkey"], r["l_linenumber"]): r["split"]
            for r in train_test_split(li, _lineitem_key())
            .select("l_orderkey", "l_linenumber", "split")
            .collect()
        }
        shuffled = {
            (r["l_orderkey"], r["l_linenumber"]): r["split"]
            for r in train_test_split(li.repartition(13), _lineitem_key())
            .select("l_orderkey", "l_linenumber", "split")
            .collect()
        }
        assert base == shuffled
        # splits are exhaustive and non-overlapping by construction; check
        # proportions are in the right neighborhood (hash uniformity)
        n = len(base)
        from collections import Counter

        c = Counter(base.values())
        assert abs(c["train"] / n - 0.80) < 0.05
        assert abs(c["val"] / n - 0.10) < 0.04
        assert abs(c["test"] / n - 0.10) < 0.04


class TestDedupClusters:
    def test_matches_union_find(self, spark, sf_dir):
        """Connected components via label propagation must partition the
        docs exactly like a sequential union-find over the same edges."""
        from etl_embargo_spark.operators.dedup import (
            q_dedup_clusters,
            q_dedup_levenshtein,
        )
        from etl_embargo_spark.catalog import load_table

        # rebuild the same edge set the query uses
        docs = load_table(spark, sf_dir, "documents").collect()
        by_hash: dict[str, list[int]] = {}
        import hashlib

        for r in docs:
            by_hash.setdefault(
                hashlib.md5(r["text"].encode()).hexdigest(), []
            ).append(r["doc_id"])
        edges = [
            (a, b)
            for ds in by_hash.values()
            for a, b in itertools.combinations(sorted(ds), 2)
        ]
        edges += [
            (r["doc_a"], r["doc_b"])
            for r in q_dedup_levenshtein(spark, sf_dir).collect()
        ]

        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        want = {}
        for v in parent:
            want.setdefault(find(v), set()).add(v)

        got = {}
        for r in q_dedup_clusters(spark, sf_dir).collect():
            got.setdefault(r["cluster"], set()).add(r["doc_id"])

        assert set(map(frozenset, got.values())) == set(
            map(frozenset, want.values())
        )
        # representative = min id of its component
        for rep, members in got.items():
            assert rep == min(members)

    # Spark jobs of the distributed path (bound forced to 0) on the 11-node
    # chain: 104 with pointer doubling off, in every run; with doubling on,
    # 60 plus one job for each of the 6 rounds in which AQE does not reuse
    # the label broadcast (61-65 over 23 runs at local[4] and local[8]), so
    # at most 66.  Why, see the test's docstring.
    # No benchmark workload reaches this path, so a regression or a
    # bounded-round rewrite shows only here.
    _CHAIN_MAX_JOBS = {False: 104, True: 66}

    def test_chain_converges_to_one_cluster(self, spark, monkeypatch):
        """A path graph (worst-case diameter) must still collapse to a
        single component with the min label — on the driver union-find
        path and on the distributed path (bound forced to 0 edges), the
        latter within its measured Spark job count.

        Why the doubling count varies (each round's final plan, dumped
        inside this job group; rounds 2-6 of 20 runs at local[4]): both
        sides of the ``edges ⋈ labels`` join start as shuffles, and AQE
        turns the join into a broadcast of whichever side's shuffle stage
        finishes first.  When that is ``labels`` (88 rounds), the hop join
        reuses the label broadcast: 9 jobs.  When it is ``edges`` (12
        rounds), the hop join reuses only the label shuffle and broadcasts
        it again: 10 jobs.  A broadcast hint on ``labels`` would fix the
        count, but this path runs only above 1M edges, where the
        node-sized label relation must not be broadcast, so the bound
        stays."""
        from etl_embargo_spark.operators import dedup

        sc = spark.sparkContext
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "a long, b long"
        )
        for bound in (dedup._UF_MAX_EDGES, 0):
            monkeypatch.setattr(dedup, "_UF_MAX_EDGES", bound)
            for doubling in (False, True):
                group = f"chain-bound{bound}-doubling{doubling}"
                sc.setJobGroup(group, "dedup_clusters on an 11-node chain")
                try:
                    out = dedup.dedup_clusters(
                        pairs, pointer_doubling=doubling
                    ).collect()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                assert {r["cluster"] for r in out} == {0}
                assert {r["doc_id"] for r in out} == set(range(11))
                if bound == 0:
                    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                    assert jobs <= self._CHAIN_MAX_JOBS[doubling], (doubling, jobs)

    def test_round_size_estimate_stays_bounded(self, spark, monkeypatch):
        """The distributed path's labels carry no size estimate compounded
        over rounds.  A smaller id hung off a chain's middle spreads one
        hop per round even with pointer doubling; when each round's
        checkpoint kept its plan's estimate (a product over a self-join),
        the estimate's bit length doubled every round: 32k bits here, and
        about 20 rounds on a 40-node chain left Catalyst multiplying
        BigInts for minutes while planning."""
        import sys

        from etl_embargo_spark.operators import dedup

        monkeypatch.setattr(dedup, "_UF_MAX_EDGES", 0)
        edges = [(i, i + 1) for i in range(12)] + [(6, -1)]
        pairs = spark.createDataFrame(edges, "a long, b long")
        out = dedup.dedup_clusters(pairs, pointer_doubling=True)
        limit = sys.get_int_max_str_digits()
        sys.set_int_max_str_digits(0)  # py4j reads the estimate as an int
        try:
            size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        finally:
            sys.set_int_max_str_digits(limit)
        assert int(size).bit_length() <= 64
        assert {(r["doc_id"], r["cluster"]) for r in out.collect()} == {
            (i, -1) for i in range(-1, 13)
        }

    def test_non_convergence_raises(self, spark, monkeypatch):
        """Exhausting max_iters with labels still moving must fail loudly,
        never return a silently-split component.  Only the distributed
        path iterates, so the bound is forced to 0 edges."""
        import pytest

        from etl_embargo_spark.operators import dedup

        monkeypatch.setattr(dedup, "_UF_MAX_EDGES", 0)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "a long, b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.dedup_clusters(pairs, max_iters=3)

    def test_releases_checkpoint_blocks(self, spark, monkeypatch):
        """The driver path leaves no persisted RDD behind; the distributed
        path keeps only the last round's checkpoint, which the returned
        labels read.  A failed (non-converged) call keeps nothing."""
        import pytest

        from etl_embargo_spark.operators import dedup

        jsc = spark.sparkContext._jsc
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10)] + [(20, 21)], "a long, b long"
        )
        want = {(i, 0) for i in range(11)} | {(20, 20), (21, 20)}

        def added(before):
            return set(jsc.getPersistentRDDs().keySet()) - before

        before = set(jsc.getPersistentRDDs().keySet())
        out = dedup.dedup_clusters(pairs, pointer_doubling=True)
        assert added(before) == set()
        assert {tuple(r) for r in out.collect()} == want

        monkeypatch.setattr(dedup, "_UF_MAX_EDGES", 0)
        before = set(jsc.getPersistentRDDs().keySet())
        out = dedup.dedup_clusters(pairs, pointer_doubling=True)
        assert len(added(before)) == 1
        assert {tuple(r) for r in out.collect()} == want

        before = set(jsc.getPersistentRDDs().keySet())
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.dedup_clusters(pairs, max_iters=2)
        assert added(before) == set()

    def test_driver_path_keeps_id_type_and_empty_input(self, spark):
        """The driver path returns the input's id type and handles an
        empty edge list (no nodes, no clusters)."""
        from etl_embargo_spark.operators.dedup import dedup_clusters

        pairs = spark.createDataFrame([(3, 1), (1, 2)], "a int, b int")
        out = dedup_clusters(pairs)
        assert [f.dataType.simpleString() for f in out.schema] == ["int", "int"]
        assert sorted(tuple(r) for r in out.collect()) == [(1, 1), (2, 1), (3, 1)]
        empty = spark.createDataFrame([], "a long, b long")
        assert dedup_clusters(empty).collect() == []


class TestCorpusDedup:
    def test_keep_drop_accounting_matches_union_find(self, spark, sf_dir):
        """Per source: dropped = members minus representatives of the
        union-find components over the same edge set; kept + dropped =
        total."""
        import hashlib

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.dedup import q_dedup_levenshtein
        from etl_embargo_spark.plans.corpus_pipeline import q_corpus_dedup

        docs = load_table(spark, sf_dir, "documents").collect()
        source_of = {r["doc_id"]: r["source"] for r in docs}
        by_hash: dict[str, list[int]] = {}
        for r in docs:
            by_hash.setdefault(
                hashlib.md5(r["text"].encode()).hexdigest(), []
            ).append(r["doc_id"])
        edges = [
            (a, b)
            for ds in by_hash.values()
            for a, b in itertools.combinations(sorted(ds), 2)
        ]
        edges += [
            (r["doc_a"], r["doc_b"])
            for r in q_dedup_levenshtein(spark, sf_dir).collect()
        ]

        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        dropped = {v for v in parent if find(v) != v}
        from collections import Counter

        want_dropped = Counter(source_of[d] for d in dropped)
        want_total = Counter(source_of[d] for d in source_of)

        got = q_corpus_dedup(spark, sf_dir).collect()
        assert sum(r["n_docs"] for r in got) == len(docs)
        for r in got:
            assert r["n_dropped"] == want_dropped.get(r["source"], 0), r
            assert r["n_kept"] == want_total[r["source"]] - want_dropped.get(
                r["source"], 0
            ), r


class TestPageRank:
    def test_matches_python_power_iteration(self, spark, sf_dir):
        """Spark PageRank must match a sequential power iteration with the
        same damping/iterations over the same edges (1e-9 tolerance for
        summation-order float drift)."""
        from collections import defaultdict

        from etl_embargo_spark.operators.graph import (
            PR_DAMPING,
            PR_ITERS,
            copurchase_edges,
            pagerank_ranks,
        )

        edges = [
            (r.src, r.dst)
            for r in copurchase_edges(spark, sf_dir).collect()
        ]
        out_edges = defaultdict(list)
        for s, d in edges:
            out_edges[s].append(d)
        nodes = sorted(out_edges)
        n = len(nodes)
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(PR_ITERS):
            contrib = defaultdict(float)
            for s in nodes:
                share = rank[s] / len(out_edges[s])
                for d in out_edges[s]:
                    contrib[d] += share
            rank = {
                v: (1.0 - PR_DAMPING) / n + PR_DAMPING * contrib.get(v, 0.0)
                for v in nodes
            }

        got = {r.id: r.rank for r in pagerank_ranks(spark, sf_dir).collect()}
        assert set(got) == set(rank)
        for v in nodes:
            assert abs(got[v] - rank[v]) < 1e-6, v
        # ranks form a probability distribution (no dangling mass loss:
        # the symmetrized graph has no sinks)
        assert abs(sum(got.values()) - 1.0) < 1e-6

    def test_star_center_dominates(self, spark):
        """Sanity on a literal star graph: the hub outranks every leaf."""
        from etl_embargo_spark.operators.graph import pagerank

        pairs = [(0, i) for i in range(1, 6)]
        edges = spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs], "src long, dst long"
        )
        out = {r.id: r.rank for r in pagerank(edges).collect()}
        assert out[0] > max(v for k, v in out.items() if k != 0)

    def test_edge_partitions_output_invariant(self, spark):
        """The edge_partitions perf knob (round 8) must not change
        ranks at the pinned round-8 quantum: per-dst contribution sums
        are doubles whose merge order varies with the cached edge
        layout, but rank magnitudes (~1/n) sit ~11 decimal orders above
        the accumulated ulp noise, so round(,8) is layout-independent —
        the property tools/detcheck.py verifies cross-config at the
        pinned SFs; this pins it Spark-side at toy scale."""
        from etl_embargo_spark.operators.graph import pagerank

        pairs = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 0), (1, 3)]
        edges = spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs], "src long, dst long"
        )
        base = {r.id: round(r.rank, 8) for r in pagerank(edges).collect()}
        for p in (1, 3):
            got = {
                r.id: round(r.rank, 8)
                for r in pagerank(edges, edge_partitions=p).collect()
            }
            assert got == base, p


class TestMediaFrameSampleQuery:
    def test_sampled_counts_match_frame_arithmetic(self, spark, sf_dir):
        """Per video: n_sampled == ceil(n_frames / 5) and the highest
        sampled index is the last multiple of 5 below n_frames."""
        from etl_embargo_spark.operators.multimodal import (
            FRAME_EVERY_N,
            extract_features,
            q_media_framesample,
            resize_media,
            synthetic_media,
        )

        media = synthetic_media(spark, sf_dir)
        feats = extract_features(resize_media(media, 128, 128))
        frames = {
            r.media_id: r.n_frames
            for r in feats.filter("media_type = 'video'").collect()
        }
        got = {
            r.media_id: (r.n_sampled, r.max_frame_idx)
            for r in q_media_framesample(spark, sf_dir).collect()
        }
        assert set(got) == set(frames)
        for mid, nf in frames.items():
            want_n = -(-nf // FRAME_EVERY_N)  # ceil
            want_max = ((nf - 1) // FRAME_EVERY_N) * FRAME_EVERY_N
            assert got[mid] == (want_n, want_max), (mid, nf)


class TestDocChunk:
    """Pure-Python reference model for the context-window chunker: the
    md5 of every (doc, chunk) must match slicing the token list directly,
    and the chunk set must tile the document (every token covered,
    consecutive full chunks overlapping by CHUNK_TOKENS - CHUNK_STRIDE)."""

    def test_chunks_match_python_model(self, spark, sf_dir):
        import hashlib

        from etl_embargo_spark.operators.text import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
            q_doc_chunk,
        )

        got = {
            (r["doc_id"], r["chunk_idx"]): (r["chunk_tokens"], r["chunk_md5"])
            for r in q_doc_chunk(spark, sf_dir).collect()
        }
        expected = {}
        for doc_id, text in _doc_texts(spark, sf_dir).items():
            toks = text.strip().lower().split()
            if not toks:
                continue
            for idx, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
                chunk = toks[start : start + CHUNK_TOKENS]
                expected[(doc_id, idx)] = (
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )
        assert got == expected

    def test_tiling_invariants(self, spark, sf_dir):
        from etl_embargo_spark.operators.text import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
            q_doc_chunk,
        )

        rows = q_doc_chunk(spark, sf_dir).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["chunk_idx"])
            n = chunks[0]["doc_tokens"]
            # chunk count tiles the token range at the stride
            assert len(chunks) == -(-n // CHUNK_STRIDE)
            # every chunk but the tail is full (or truncated by doc end)
            for r in chunks:
                start = r["chunk_idx"] * CHUNK_STRIDE
                assert r["chunk_tokens"] == min(CHUNK_TOKENS, n - start)


class TestDecontaminate:
    """Reference model: exact 8-gram overlap between each training doc
    and the union of eval-side grams."""

    def test_matches_python_model(self, spark, sf_dir):
        from etl_embargo_spark.operators.text import (
            DECON_EVAL_MOD,
            DECON_NGRAM,
            q_decontaminate,
        )

        texts = _doc_texts(spark, sf_dir)

        def grams(text):
            toks = text.strip().lower().split()
            return {
                " ".join(toks[i : i + DECON_NGRAM])
                for i in range(len(toks) - DECON_NGRAM + 1)
            }

        eval_grams: set = set()
        for doc_id, text in texts.items():
            if doc_id % DECON_EVAL_MOD == 0:
                eval_grams |= grams(text)
        got = {
            r["doc_id"]: (r["n_grams"], r["n_hit"], r["contaminated"])
            for r in q_decontaminate(spark, sf_dir).collect()
        }
        for doc_id, text in texts.items():
            g = grams(text)
            if doc_id % DECON_EVAL_MOD == 0 or not g:
                assert doc_id not in got
                continue
            hit = len(g & eval_grams)
            assert got[doc_id] == (len(g), hit, hit > 0)


class TestKMeans:
    @staticmethod
    def _numpy_fit(vecs, ids, k, n_iters):
        """Reference Lloyd's matching clustering.py exactly: smallest-id
        seeding, quantized centroids each round, empty keeps old."""
        import numpy as np

        order = np.argsort(ids)
        seed = vecs[order[:k]]
        cm = np.round(seed.astype(np.float64), 6)
        for _ in range(n_iters):
            d = (cm * cm).sum(axis=1)[None, :] - 2.0 * (vecs @ cm.T)
            cl = d.argmin(axis=1)
            new = cm.copy()
            for c in range(k):
                sel = vecs[cl == c]
                if len(sel):
                    new[c] = sel.sum(axis=0) / len(sel)
            cm = np.round(new, 6)
        d = (cm * cm).sum(axis=1)[None, :] - 2.0 * (vecs @ cm.T)
        return cm, d.argmin(axis=1)

    def test_assignments_match_numpy_lloyds(self, spark, sf_dir):
        import numpy as np

        from etl_embargo_spark.catalog import load_table, table_rows
        from etl_embargo_spark.operators.clustering import (
            KMEANS_ITERS,
            kmeans_k,
            q_kmeans,
        )

        rows = q_kmeans(spark, sf_dir).collect()
        raw = load_table(spark, sf_dir, "embeddings").collect()
        ids = np.array([r.vec_id for r in raw])
        vecs = np.vstack([np.asarray(r.embedding) for r in raw]).astype(
            np.float64
        )
        k = kmeans_k(table_rows(sf_dir, "embeddings"))
        _, expect = self._numpy_fit(vecs, ids, k, KMEANS_ITERS)
        got = {r.vec_id: r.cluster_id for r in rows}
        want = {int(i): int(c) for i, c in zip(ids, expect)}
        assert got == want
        assert len(set(got.values())) > 1  # non-degenerate clustering

    def test_sq_dist_is_true_distance(self, spark, sf_dir):
        import numpy as np

        from etl_embargo_spark.catalog import load_table, table_rows
        from etl_embargo_spark.operators.clustering import (
            kmeans_fit,
            kmeans_k,
            q_kmeans,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cm = kmeans_fit(emb, k=kmeans_k(table_rows(sf_dir, "embeddings")))
        by_id = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()
        }
        for r in q_kmeans(spark, sf_dir).collect()[:50]:
            true = ((by_id[r.vec_id] - cm[r.cluster_id]) ** 2).sum()
            assert abs(r.sq_dist - true) < 1e-4, r.vec_id


class TestSemDeDup:
    def test_cluster_pair_cost_bounded_across_sf(self, spark):
        """SemDeDup's per-cluster pass is O(Σ|cluster|²).  With k sized
        from the corpus (kmeans_k), Σ|c|²/n — the expected pair cost PER
        VECTOR — must stay ~constant as the corpus grows 4× (sf0.001 →
        sf0.1), i.e. total cost linear, not n²/k with fixed k."""
        from collections import Counter

        from etl_embargo_spark.operators.clustering import (
            KMEANS_TARGET_CLUSTER,
            q_kmeans,
        )

        per_vec = {}
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
            c = Counter(
                r.cluster_id for r in q_kmeans(spark, sf).collect()
            )
            n = sum(c.values())
            per_vec[sf] = sum(v * v for v in c.values()) / n
            # bounded absolutely: within a small skew factor of target
            assert per_vec[sf] <= 4 * KMEANS_TARGET_CLUSTER, (sf, per_vec)
        ratio = (
            per_vec["/root/testdata/sf0.1"]
            / per_vec["/root/testdata/sf0.001"]
        )
        assert ratio <= 2.0, per_vec  # flat, not growing with the corpus

    def test_greedy_prune_matches_numpy(self, spark, sf_dir):
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.clustering import (
            SEMDEDUP_TAU,
            q_kmeans,
            q_semdedup,
        )

        sd = {r.vec_id: r for r in q_semdedup(spark, sf_dir).collect()}
        cl = {r.vec_id: r.cluster_id for r in q_kmeans(spark, sf_dir).collect()}
        raw = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }
        assert set(sd) == set(raw)
        # replay the greedy prune per cluster
        clusters: dict[int, list[int]] = {}
        for vid, c in cl.items():
            clusters.setdefault(c, []).append(vid)
        dropped = 0
        for c, vids in clusters.items():
            vids.sort()
            kept: list[int] = []
            for v in vids:
                u = raw[v] / (np.linalg.norm(raw[v]) or 1.0)
                cos = [
                    float(
                        u @ (raw[k] / (np.linalg.norm(raw[k]) or 1.0))
                    )
                    for k in kept
                ]
                m = max(cos) if cos else -1.0
                expect_keep = m < SEMDEDUP_TAU
                assert sd[v].keep == expect_keep, (v, m)
                assert sd[v].cluster_id == c
                if expect_keep:
                    kept.append(v)
                else:
                    dropped += 1
        assert dropped > 0  # tau is calibrated to actually prune


class TestTriangles:
    def test_census_matches_networkless_python(self, spark, sf_dir):
        """Exact triangle census vs a driver-side adjacency-set count on
        the identical supported edge list."""
        from itertools import combinations

        from etl_embargo_spark.operators.graph import (
            q_triangles,
            support_edges,
        )

        row = q_triangles(spark, sf_dir).collect()[0]
        edges = {
            (r.a, r.b) for r in support_edges(spark, sf_dir).collect()
        }
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        n_wedges = sum(
            len(v) * (len(v) - 1) // 2 for v in adj.values()
        )
        n_tri = sum(
            1
            for a in adj
            for b, c in combinations(sorted(adj[a]), 2)
            if a < b and c in adj[b]
        )
        assert row.n_edges == len(edges)
        assert row.n_wedges == n_wedges
        assert row.n_triangles == n_tri
        assert n_tri > 0


class TestRepetitionFilter:
    def test_metrics_match_python_recount(self, spark, sf_dir):
        import re
        from collections import Counter

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import (
            REP_DUP_BIGRAM_DEN,
            REP_TOP_UNIGRAM_DEN,
            q_repetition_filter,
        )

        rows = {
            r.doc_id: r for r in q_repetition_filter(spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents").collect()
        kept = dropped = 0
        for d in docs:
            if d.n_chars <= 0:
                continue
            toks = re.split(r"\s+", d.text.strip().lower())
            if len(toks) < 2:
                continue
            r = rows[d.doc_id]
            uni = Counter(toks)
            bi = Counter(zip(toks, toks[1:]))
            n, nb = len(toks), len(toks) - 1
            top = max(uni.values())
            dup_bi = sum(c for c in bi.values() if c > 1)
            assert r.n_tokens == n, d.doc_id
            assert abs(r.top_unigram_frac - round(top / n, 6)) < 1e-9
            assert abs(
                r.dup_unigram_frac
                - round(sum(c for c in uni.values() if c > 1) / n, 6)
            ) < 1e-9
            assert abs(r.dup_bigram_frac - round(dup_bi / nb, 6)) < 1e-9
            expect_keep = (
                top * REP_TOP_UNIGRAM_DEN <= n
                and dup_bi * REP_DUP_BIGRAM_DEN <= nb
            )
            assert r.keep == expect_keep, d.doc_id
            kept += expect_keep
            dropped += not expect_keep
        assert kept and dropped  # gate is non-degenerate both ways


class TestBpeTrain:
    @staticmethod
    def _python_bpe(word_counts, n_merges):
        """Reference BPE trainer on a word-count dict (chars as initial
        symbols; greedy left-to-right merge application)."""
        vocab = {tuple(w): c for w, c in word_counts.items()}
        merges = []
        for step in range(n_merges):
            pairs: dict[tuple, int] = {}
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    pairs[p] = pairs.get(p, 0) + c
            if not pairs:
                break
            (l, r), n = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((step, l, r, l + r, n))
            new_vocab: dict[tuple, int] = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == l
                        and syms[i + 1] == r
                    ):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                k = tuple(out)
                new_vocab[k] = new_vocab.get(k, 0) + c
            vocab = new_vocab
        return merges, vocab

    def test_merge_table_matches_python(self, spark, sf_dir):
        import re
        from collections import Counter

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import BPE_MERGES, q_bpe_train

        got = [
            (r.step, r.left, r.right, r.merged, r.weight)
            for r in q_bpe_train(spark, sf_dir)
            .orderBy("step")
            .collect()
        ]
        wc: Counter = Counter()
        for d in load_table(spark, sf_dir, "documents").collect():
            if d.n_chars <= 0:
                continue
            for w in re.split(r"\s+", d.text.strip().lower()):
                if len(w) >= 2:
                    wc[w] += 1
        expect, _ = self._python_bpe(wc, BPE_MERGES)
        assert got == expect
        assert len(got) == BPE_MERGES


class TestFeatureHashAndIndex:
    def test_feature_hash_mass_and_range(self, spark, sf_dir):
        """Bucket counts conserve total token mass; buckets stay in
        [0, D)."""
        from pyspark.sql import functions as F

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import (
            FEATURE_HASH_DIM,
            q_feature_hash,
        )

        rows = q_feature_hash(spark, sf_dir).collect()
        assert all(0 <= r.bucket < FEATURE_HASH_DIM for r in rows)
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("n_chars") > 0
        )
        total = docs.select(
            F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
        ).agg(F.sum("n")).collect()[0][0]
        assert sum(r.cnt for r in rows) == total

    def test_inverted_index_postings_sorted_consistent(self, spark, sf_dir):
        rows = None
        from etl_embargo_spark.operators.text import q_inverted_index

        rows = q_inverted_index(spark, sf_dir).collect()
        assert rows
        for r in rows:
            ids = [int(x) for x in r.postings.split(",")]
            assert ids == sorted(ids)
            assert len(ids) == r.df
            assert r.cf >= r.df


class TestEmbedQuantize:
    def test_error_bounded_by_half_step(self, spark, sf_dir):
        """Affine round-trip error can never exceed scale/2 per element,
        so the mean must respect it too; dims are complete."""
        from etl_embargo_spark.operators.similarity import (
            QUANT_LEVELS,
            q_embed_quantize,
        )

        rows = q_embed_quantize(spark, sf_dir).collect()
        assert len(rows) == 64
        for r in rows:
            scale = (r.dmax_r - r.dmin_r) / QUANT_LEVELS
            assert r.mean_abs_err <= scale / 2 + 1e-6, r.dim
            assert r.mean_abs_err >= 0


class TestCmsTopk:
    def test_one_sided_error_and_top_set(self, spark, sf_dir):
        """CMS never underestimates; on this vocabulary (tiny vs the
        sketch width) the top set equals the exact top set."""
        import re
        from collections import Counter

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sketches import (
            CMS_TOPK,
            q_cms_topk,
        )

        rows = q_cms_topk(spark, sf_dir).collect()
        assert len(rows) == CMS_TOPK
        exact: Counter = Counter()
        for d in load_table(spark, sf_dir, "documents").collect():
            if d.n_chars <= 0:
                continue
            exact.update(re.split(r"\s+", d.text.strip().lower()))
        for r in rows:
            assert r.est >= exact[r.token], r.token
        expect_top = {
            t
            for t, _ in sorted(
                exact.items(), key=lambda kv: (-kv[1], kv[0])
            )[:CMS_TOPK]
        }
        got_top = {r.token for r in rows}
        # small vocab + 4x512 sketch => collisions cannot reorder the head
        assert got_top == expect_top

    def test_invariant_under_repartition(self, spark, sf_dir):
        """The merged sketch (sum of per-partition partials) must not
        depend on the partition layout."""
        from etl_embargo_spark.operators.sketches import q_cms_topk

        a = [(r.rank, r.token, r.est) for r in q_cms_topk(spark, sf_dir).collect()]
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        try:
            b = [(r.rank, r.token, r.est) for r in q_cms_topk(spark, sf_dir).collect()]
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        assert a == b


class TestKmvOverlap:
    def test_estimates_near_exact(self, spark, sf_dir):
        """KMV (k-1)/u_k estimates have ~1/sqrt(k-2) relative error;
        with k=64 assert a generous 60% envelope against the exact
        audit columns computed in the same row (and exactness when the
        sketch is not full, where the estimate IS the count)."""
        from etl_embargo_spark.operators.sketches import KMV_K, q_kmv_overlap

        row = q_kmv_overlap(spark, sf_dir).collect()[0]
        assert row.k == KMV_K
        for est, exact in (
            (row.est_a, row.exact_a),
            (row.est_b, row.exact_b),
        ):
            assert exact > 0
            if exact < KMV_K:
                # not-full sketch IS the population
                assert est == float(exact)
            else:
                assert abs(est - exact) / exact < 0.6, (est, exact)
        # intersection = jaccard * union: bound by sketch STATISTICS,
        # not a fixed percentage — the jaccard estimator is a binomial
        # share of k mins (σ = sqrt(j(1-j)/k)), so assert a 4σ envelope
        # on the jaccard and propagate through the union estimate (a
        # fixed 60% envelope held at sf0.001 by luck and broke at
        # sf0.01 at 1.7σ)
        import math

        assert row.exact_both > 0
        exact_union = row.exact_a + row.exact_b - row.exact_both
        exact_j = row.exact_both / exact_union
        sigma_j = math.sqrt(exact_j * (1 - exact_j) / row.k)
        assert abs(row.est_jaccard - exact_j) < 4 * sigma_j, (
            row.est_jaccard,
            exact_j,
            sigma_j,
        )
        # union estimate has ~1/sqrt(k-2) relative error; intersection
        # inherits both error sources
        rel_u = 4.0 / math.sqrt(row.k - 2)
        j_hi = exact_j + 4 * sigma_j
        j_lo = max(exact_j - 4 * sigma_j, 0.0)
        lo = j_lo * exact_union * (1 - rel_u)
        hi = j_hi * exact_union * (1 + rel_u)
        assert lo <= row.est_intersection <= hi, (
            row.est_intersection,
            row.exact_both,
            (lo, hi),
        )

    def test_jaccard_bounded(self, spark, sf_dir):
        row = q_kmv_overlap_row = None
        from etl_embargo_spark.operators.sketches import q_kmv_overlap

        row = q_kmv_overlap(spark, sf_dir).collect()[0]
        assert 0.0 <= row.est_jaccard <= 1.0
        # both populations overlap but are not identical in the synthetic log
        assert row.exact_both < min(row.exact_a, row.exact_b)


    def test_sketch_merge_associativity(self, spark, sf_dir):
        """The property that makes KMV shardable and streamable: the
        k-smallest of a UNION equals the k-smallest of the union of the
        shards' k-smallest lists — so per-day (or per-micro-batch)
        sketches merge into exactly the sketch of the whole, no matter
        the split."""
        from pyspark.sql import functions as F

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sketches import KMV_K, _kmv_hash

        ev = load_table(spark, sf_dir, "events")
        keyed = (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id"),
                F.datediff(
                    F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date"),
                ).alias("day"),
            )
            .distinct()
            .select(
                "day",
                _kmv_hash(
                    F.concat_ws("-", F.col("user_id"), F.col("day"))
                ).alias("h"),
            )
        )
        rows = keyed.collect()
        full = sorted({r.h for r in rows})[:KMV_K]
        shard_a = sorted({r.h for r in rows if r.day < 15})[:KMV_K]
        shard_b = sorted({r.h for r in rows if r.day >= 15})[:KMV_K]
        merged = sorted(set(shard_a) | set(shard_b))[:KMV_K]
        assert merged == full


class TestPca:
    def test_matches_pure_numpy(self, spark, sf_dir):
        """Exact-match oracle: the quantized covariance makes the
        distributed partial-sum path bit-identical to a pure-numpy
        recompute from the collected vectors, so eigenvalues AND
        loadings compare exactly after identical rounding."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.clustering import (
            PCA_TOP,
            _quantize,
            q_pca,
        )

        rows = sorted(
            q_pca(spark, sf_dir).collect(), key=lambda r: r.component
        )
        X = np.vstack(
            [
                np.asarray(r.embedding, dtype=np.float64)
                for r in load_table(spark, sf_dir, "embeddings")
                .select("embedding")
                .collect()
            ]
        )
        n = X.shape[0]
        mean = X.sum(axis=0) / n
        cov = _quantize((X.T @ X) / n - np.outer(mean, mean), 6)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:PCA_TOP]
        evals, evecs = evals[order], evecs[:, order].T
        for i in range(evecs.shape[0]):
            j = int(np.abs(evecs[i]).argmax())
            if evecs[i, j] < 0:
                evecs[i] = -evecs[i]
        total = float(np.trace(cov))
        assert len(rows) == PCA_TOP
        for i, r in enumerate(rows):
            assert r.eigenvalue == round(float(evals[i]), 6)
            assert r.explained_ratio == round(float(evals[i]) / total, 6)
            got_loadings = [float(x) for x in r.loadings_csv.split(",")]
            assert got_loadings == [round(float(x), 6) for x in evecs[i]]
        # descending spectrum + (near-)orthonormal loadings
        got = [r.eigenvalue for r in rows]
        assert got == sorted(got, reverse=True)
        V = np.array(
            [[float(x) for x in r.loadings_csv.split(",")] for r in rows]
        )
        assert np.allclose(V @ V.T, np.eye(PCA_TOP), atol=1e-4)


class TestWhitening:
    def test_matches_numpy_and_decorrelates(self, spark, sf_dir):
        """Exact per-vector match vs a pure-numpy recompute (same
        quantized covariance path), and the whitened coordinates are
        decorrelated with ~unit variance along kept components."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.clustering import (
            pca_fit,
            whitening_vectors,
        )

        emb_df = load_table(spark, sf_dir, "embeddings")
        evals, evecs, _ = pca_fit(emb_df)
        scale = np.where(evals > 0, 1.0 / np.sqrt(evals), 0.0)
        wmat = evecs * scale[:, None]
        X = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb_df.select("vec_id", "embedding").collect()
        }
        got = {
            r.vec_id: np.asarray(r.white)
            for r in whitening_vectors(spark, sf_dir).collect()
        }
        assert set(got) == set(X)
        for vid, v in list(X.items())[:50]:
            assert np.array_equal(got[vid], np.round(v @ wmat.T, 6)), vid
        Z = np.vstack([got[v] for v in sorted(got)])
        Zc = Z - Z.mean(axis=0)
        cov = (Zc.T @ Zc) / Z.shape[0]
        assert np.allclose(np.diag(cov), 1.0, atol=0.05)
        off = cov - np.diag(np.diag(cov))
        assert np.abs(off).max() < 0.05

class TestLogReg:
    @staticmethod
    def _numpy_fit(vecs, labels, n_iters, ridge):
        """Reference Newton-Raphson matching clustering.logreg_fit: zero
        init, ridge-stabilized solve, weights quantized each round."""
        import numpy as np

        x = np.hstack([np.ones((len(vecs), 1)), vecs])
        y = (labels % 2).astype(np.float64)
        w = np.zeros(x.shape[1])
        for _ in range(n_iters):
            p = 1.0 / (1.0 + np.exp(-(x @ w)))
            g = x.T @ (p - y)
            h = (x * (p * (1.0 - p))[:, None]).T @ x
            h += ridge * np.eye(x.shape[1])
            w = np.round(w - np.linalg.solve(h, g), 6)
        return w

    def test_predictions_match_numpy_newton(self, spark, sf_dir):
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.clustering import (
            LOGREG_ITERS,
            LOGREG_RIDGE,
            q_logreg,
        )

        rows = q_logreg(spark, sf_dir).collect()
        raw = load_table(spark, sf_dir, "embeddings").collect()
        ids = np.array([r.vec_id for r in raw])
        vecs = np.vstack([np.asarray(r.embedding) for r in raw]).astype(
            np.float64
        )
        labels = np.array([r.label for r in raw])
        w = self._numpy_fit(vecs, labels, LOGREG_ITERS, LOGREG_RIDGE)
        x = np.hstack([np.ones((len(vecs), 1)), vecs])
        p = 1.0 / (1.0 + np.exp(-(x @ w)))
        want_p = {int(i): round(float(v), 6) for i, v in zip(ids, p)}
        want_pred = {int(i): int(v >= 0.5) for i, v in zip(ids, p)}
        got_p = {r.vec_id: r.p for r in rows}
        got_pred = {r.vec_id: r.pred for r in rows}
        assert got_pred == want_pred
        for vid, pv in got_p.items():
            assert abs(pv - want_p[vid]) < 1e-5, vid
        # the fit must beat chance on its own training data
        correct = sum(
            1 for r in rows if r.pred == r.y
        )
        assert correct / len(rows) > 0.55

    def test_labels_round_trip(self, spark, sf_dir):
        from etl_embargo_spark.operators.clustering import q_logreg

        rows = q_logreg(spark, sf_dir).collect()
        assert all(r.y in (0, 1) and r.pred in (0, 1) for r in rows)
        assert all(0.0 <= r.p <= 1.0 for r in rows)


class TestMarkovAttribution:
    @staticmethod
    def _numpy_reference(rows, conv="purchase"):
        """Pure-Python replica of graph.journey_transitions +
        q_markov_attribution's absorbing-chain solve."""
        import numpy as np
        from collections import defaultdict

        by_user = defaultdict(list)
        for r in rows:
            by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
        cells = defaultdict(int)
        for seq in by_user.values():
            seq.sort()
            prev = "start"
            converted = False
            for _, _, t in seq:
                cells[(prev, t)] += 1
                prev = t
                if t == conv:
                    converted = True
                    break
            if not converted:
                cells[(prev, "null")] += 1
        channels = sorted(
            {s for s, _ in cells} - {"start"}
        )
        channels = [c for c in channels if c not in (conv, "null")]

        def conv_prob(removed):
            trans = ["start"] + channels
            idx = {s: i for i, s in enumerate(trans)}
            totals = defaultdict(float)
            for (f, t), n in cells.items():
                if f in idx:
                    totals[f] += n
            q = np.zeros((len(trans), len(trans)))
            b = np.zeros(len(trans))
            for (f, t), n in cells.items():
                if f not in idx or f == removed:
                    continue
                p = n / totals[f]
                if t == conv:
                    b[idx[f]] += p
                elif t in idx and t != removed:
                    q[idx[f], idx[t]] += p
            sol = np.linalg.solve(np.eye(len(trans)) - q, b)
            return float(sol[idx["start"]])

        base = conv_prob(None)
        effects = {c: max(base - conv_prob(c), 0.0) for c in channels}
        total = sum(effects.values()) or 1.0
        return {
            c: (
                round(base, 6),
                round(effects[c], 6),
                round(effects[c] / total, 6),
            )
            for c in channels
        }

    def test_matches_pure_python_chain(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.graph import (
            q_markov_attribution,
        )

        got = {
            r.channel: (r.base_conv, r.removal_effect, r.share)
            for r in q_markov_attribution(spark, sf_dir).collect()
        }
        raw = load_table(spark, sf_dir, "events").collect()
        want = self._numpy_reference(raw)
        assert set(got) == set(want)
        for c in want:
            for g, w in zip(got[c], want[c]):
                assert abs(g - w) < 1e-9, (c, got[c], want[c])
        # shares sum to 1 over a non-degenerate channel set
        assert len(got) >= 3
        assert abs(sum(v[2] for v in got.values()) - 1.0) < 1e-5


class TestTextRank:
    def test_matches_pure_python_power_iteration(self, spark, sf_dir):
        import re
        from collections import defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.graph import (
            PR_DAMPING,
            PR_ITERS,
            TEXTRANK_MIN_LEN,
            TEXTRANK_TOP,
            q_textrank,
        )

        got = [
            (r.word, r.rank)
            for r in q_textrank(spark, sf_dir).collect()
        ]
        docs = load_table(spark, sf_dir, "documents").collect()
        edges = set()
        for d in docs:
            if not d.n_chars:
                continue
            toks = [
                t
                for t in re.split(r"\s+", d.text.strip().lower())
                if len(t) >= TEXTRANK_MIN_LEN
            ]
            for a, b in zip(toks, toks[1:]):
                if a != b:
                    edges.add((a, b))
                    edges.add((b, a))
        nodes = sorted({s for s, _ in edges})
        out = defaultdict(list)
        for s, t in edges:
            out[s].append(t)
        n = len(nodes)
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(PR_ITERS):
            contrib = defaultdict(float)
            for s in nodes:
                share = rank[s] / len(out[s])
                for t in out[s]:
                    contrib[t] += share
            rank = {
                v: (1.0 - PR_DAMPING) / n + PR_DAMPING * contrib[v]
                for v in nodes
            }
        want = sorted(
            ((v, round(r, 8)) for v, r in rank.items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[:TEXTRANK_TOP]
        assert len(got) == TEXTRANK_TOP
        for (gw, gr), (ww, wr) in zip(got, want):
            assert gw == ww
            assert abs(gr - wr) < 1e-6, (gw, gr, wr)


class TestCalibration:
    def test_bins_match_numpy(self, spark, sf_dir):
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.clustering import (
            CALIB_BINS,
            LOGREG_ITERS,
            LOGREG_RIDGE,
            q_calibration,
        )

        got = {
            r.bin: (r.n, r.n_pos, r.mean_pred, r.frac_pos)
            for r in q_calibration(spark, sf_dir).collect()
        }
        raw = load_table(spark, sf_dir, "embeddings").collect()
        vecs = np.vstack([np.asarray(r.embedding) for r in raw]).astype(
            np.float64
        )
        labels = np.array([r.label for r in raw])
        w = TestLogReg._numpy_fit(vecs, labels, LOGREG_ITERS, LOGREG_RIDGE)
        x = np.hstack([np.ones((len(vecs), 1)), vecs])
        p = np.round(1.0 / (1.0 + np.exp(-(x @ w))), 6)
        y = (labels % 2).astype(int)
        bins = np.minimum((p * CALIB_BINS).astype(int), CALIB_BINS - 1)
        for b in sorted(set(bins)):
            sel = bins == b
            n = int(sel.sum())
            npos = int(y[sel].sum())
            mean_pred = round(float(np.sum(p[sel])) / n, 6)
            frac = round(npos / n, 6)
            gn, gpos, gmean, gfrac = got[b]
            assert (gn, gpos) == (n, npos), b
            assert abs(gmean - mean_pred) < 1e-5, b
            assert abs(gfrac - frac) < 1e-9, b
        assert set(got) == set(int(b) for b in set(bins))
        # sane calibration shape: bins exist on both ends
        assert len(got) >= 3


class TestPorterStem:
    def test_published_porter_vectors(self):
        from etl_embargo_spark.operators.text import porter_stem

        vectors = {
            "caresses": "caress", "ponies": "poni", "ties": "ti",
            "caress": "caress", "cats": "cat", "feed": "feed",
            "agreed": "agre", "plastered": "plaster", "bled": "bled",
            "motoring": "motor", "sing": "sing", "conflated": "conflat",
            "troubled": "troubl", "sized": "size", "hopping": "hop",
            "tanned": "tan", "falling": "fall", "hissing": "hiss",
            "fizzed": "fizz", "failing": "fail", "filing": "file",
            "happy": "happi", "sky": "sky", "relational": "relat",
            "conditional": "condit", "rational": "ration",
            "foxes": "fox", "running": "run",
            "generalization": "gener",
            "characterization": "character",
        }
        for w, want in vectors.items():
            assert porter_stem(w) == want, (w, porter_stem(w), want)

    def test_rollup_matches_pure_python(self, spark, sf_dir):
        import re
        from collections import Counter, defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import (
            STEM_TOP,
            porter_stem,
            q_stem,
        )

        got = [
            (r.stem, r.n_forms, r.total_tf)
            for r in q_stem(spark, sf_dir).collect()
        ]
        docs = load_table(spark, sf_dir, "documents").collect()
        tf = Counter()
        for d in docs:
            if not d.n_chars:
                continue
            for t in re.split(r"\s+", d.text.strip().lower()):
                if re.fullmatch(r"[a-z]{3,}", t):
                    tf[t] += 1
        agg = defaultdict(lambda: [0, 0])
        for t, n in tf.items():
            s = porter_stem(t)
            agg[s][0] += 1
            agg[s][1] += n
        want = sorted(
            ((s, f, n) for s, (f, n) in agg.items()),
            key=lambda x: (-x[2], x[0]),
        )[:STEM_TOP]
        assert got == want


class TestALS:
    @staticmethod
    def _md5_uniform(key: str) -> float:
        import hashlib

        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 4294967296.0

    def test_predictions_match_numpy_als(self, spark, sf_dir):
        import numpy as np
        from collections import defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.recsys import (
            ALS_K,
            ALS_LAMBDA,
            ALS_QUANTUM,
            ALS_ROUNDS,
            als_scores,
        )

        rows = als_scores(spark, sf_dir).collect()
        li = load_table(spark, sf_dir, "lineitem").collect()
        orders = {
            r.o_orderkey: r.o_custkey
            for r in load_table(spark, sf_dir, "orders").collect()
        }
        inter = defaultdict(float)
        for r in li:
            inter[(orders[r.l_orderkey], r.l_partkey)] += 1.0
        by_user = defaultdict(list)
        by_item = defaultdict(list)
        for (u, i), cnt in inter.items():
            by_user[u].append((i, cnt))
            by_item[i].append((u, cnt))
        yf = {
            i: np.round(
                np.array(
                    [
                        (self._md5_uniform(f"item:{i}:{d}") - 0.5) * 0.1
                        for d in range(ALS_K)
                    ]
                ),
                ALS_QUANTUM,
            )
            for i in by_item
        }
        xf = {}

        def solve(pairs, fixed):
            pairs = sorted(pairs)
            y = np.vstack([fixed[i] for i, _ in pairs])
            r = np.array([c for _, c in pairs])
            a = y.T @ y + ALS_LAMBDA * np.eye(ALS_K)
            return np.round(np.linalg.solve(a, y.T @ r), ALS_QUANTUM)

        for _ in range(ALS_ROUNDS):
            xf = {u: solve(p, yf) for u, p in by_user.items()}
            yf = {i: solve(p, xf) for i, p in by_item.items()}

        def fold_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        want = {
            (u, i): round(fold_dot(xf[u], yf[i]), 4)
            for (u, i) in inter
        }
        got = {(r.user, r.item): r.pred for r in rows}
        assert got == want
        # rmse sanity: the fit reconstructs observed counts well
        assert rows[0].rmse < 0.5
        assert len(rows) == len(inter)


class TestContrastivePairs:
    def test_triples_replay_from_scored_candidates(self, spark, sf_dir):
        """q_contrastive_pairs must equal an exact pandas replay of the
        triple selection over the scored LSH candidate list: best positive
        (cosine >= POS_T) and highest negative (cosine < NEG_T) per
        anchor, ties on vec_id, anchors needing both."""
        from collections import defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.dedup import embedding_near_dups
        from etl_embargo_spark.operators.similarity import (
            CONTRASTIVE_NEG_T,
            CONTRASTIVE_POS_T,
            q_contrastive_pairs,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        pairs = embedding_near_dups(emb, threshold=-1.0).collect()
        directed = defaultdict(list)
        for r in pairs:
            directed[r["vec_a"]].append((r["vec_b"], r["cosine"]))
            directed[r["vec_b"]].append((r["vec_a"], r["cosine"]))
        want = {}
        for a, lst in directed.items():
            pos = [(c, b) for b, c in lst if c >= CONTRASTIVE_POS_T]
            neg = [(c, b) for b, c in lst if c < CONTRASTIVE_NEG_T]
            if pos and neg:
                pc, pb = max(pos, key=lambda t: (t[0], -t[1]))
                nc, nb = max(neg, key=lambda t: (t[0], -t[1]))
                want[a] = (pb, pc, nb, nc)
        got = {
            r["anchor"]: (r["pos_id"], r["pos_cos"], r["neg_id"], r["neg_cos"])
            for r in q_contrastive_pairs(spark, sf_dir).collect()
        }
        assert got == want
        assert len(got) > 0
        for pb, pc, nb, nc in got.values():
            assert pc >= CONTRASTIVE_POS_T > CONTRASTIVE_NEG_T > nc


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


class TestEnvironmentGatedSlots:
    """Dormant coverage for the two environment-blocked paths: these tests
    skip ONLY on the missing dependency, so the day the container gains
    PIL or google.protobuf they exercise the already-written code with no
    code change."""

    @pytest.mark.skipif(not _pil_available(), reason="PIL not installed")
    def test_real_jpeg_png_decode_contract(self, spark):
        """decode_one must dispatch compressed images to the PIL branch:
        real dims from the payload, codec tag from the format, features
        from actual pixels (mean of a solid-color image == that color)."""
        import io

        from PIL import Image

        from etl_embargo_spark.operators.multimodal import extract_features

        buf = io.BytesIO()
        Image.new("RGB", (20, 10), color=(200, 50, 0)).save(buf, "PNG")
        png = buf.getvalue()
        jbuf = io.BytesIO()
        Image.new("RGB", (8, 8), color=(0, 0, 255)).save(jbuf, "JPEG")
        jpg = jbuf.getvalue()
        media = spark.createDataFrame(
            [(1, "image", bytearray(png), 20, 10),
             (2, "image", bytearray(jpg), 8, 8)],
            "media_id long, media_type string, content binary, "
            "declared_w int, declared_h int",
        )
        rows = {
            r["media_id"]: r
            for r in extract_features(media, use_real_codec=True).collect()
        }
        assert rows[1]["codec"] == "png"
        assert (rows[1]["width"], rows[1]["height"]) == (20, 10)
        feats = rows[1]["features"]
        assert abs(feats[2] - 200.0) < 0.5  # R mean of solid (200,50,0)
        assert abs(feats[3] - 50.0) < 0.5
        assert rows[2]["codec"] == "jpeg"
        assert (rows[2]["width"], rows[2]["height"]) == (8, 8)

    def test_tws_gate_matches_environment(self):
        """tws_available() must report exactly whether google.protobuf
        imports — the gate the streaming TWS dedup path hangs off."""
        from etl_embargo_spark.streaming.tws_dedup import tws_available

        try:
            from google.protobuf import descriptor  # noqa: F401

            expect = True
        except ImportError:
            expect = False
        assert tws_available() is expect

    @pytest.mark.skipif(
        not __import__(
            "etl_embargo_spark.streaming.tws_dedup",
            fromlist=["tws_available"],
        ).tws_available(),
        reason="google.protobuf not installed",
    )
    def test_tws_dedup_stream_starts_and_dedups(self, spark, tmp_path):
        """Full transformWithStateInPandas query start — the path that
        fails with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE without
        protobuf.  Emitted hashes must match the batch first-per-hash
        oracle."""
        from etl_embargo_spark.streaming.tws_dedup import (
            batch_dedup,
            dedup_stream,
        )

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        docs = spark.createDataFrame(
            [(1, "alpha", 5), (2, "alpha", 5), (3, "beta", 4)],
            "doc_id long, text string, n_chars int",
        )
        docs.write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, n_chars int"
        ).parquet(src)
        q = (
            dedup_stream(stream)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination(180)
        got = {r["doc_hash"] for r in spark.read.parquet(out).collect()}
        want = {r["doc_hash"] for r in batch_dedup(docs).collect()}
        assert got == want and len(got) == 2


class TestDsirWeights:
    def test_target_lang_enriched_in_top_k(self, spark, sf_dir):
        """DSIR's whole point: the importance-resampled subset must be
        enriched in target-distribution documents relative to the raw
        corpus (and every weight must replay exactly in numpy/python)."""
        import math

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sampling import (
            DSIR_BUCKETS,
            DSIR_TARGET_LANG,
            q_dsir_weights,
        )

        docs = {
            r["doc_id"]: (r["lang"], r["text"])
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        top = {r["doc_id"]: r for r in q_dsir_weights(spark, sf_dir).collect()}
        assert len(top) == 100
        corpus_share = sum(
            1 for lang, _ in docs.values() if lang == DSIR_TARGET_LANG
        ) / len(docs)
        top_share = sum(
            1 for d in top if docs[d][0] == DSIR_TARGET_LANG
        ) / len(top)
        assert top_share > corpus_share, (top_share, corpus_share)

        # exact replay of the scoring pipeline in pure python
        import hashlib
        from collections import Counter
        from decimal import Decimal

        def bucket(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

        n_raw: Counter = Counter()
        n_tgt: Counter = Counter()
        per_doc: dict[int, Counter] = {}
        for did, (lang, text) in docs.items():
            c = Counter(bucket(t) for t in text.strip().lower().split())
            per_doc[did] = c
            for b, n in c.items():
                n_raw[b] += n
                if lang == DSIR_TARGET_LANG:
                    n_tgt[b] += n
        tot_raw, tot_tgt = sum(n_raw.values()), sum(n_tgt.values())
        w = {
            b: Decimal(
                str(
                    round(
                        math.log(
                            ((n_tgt[b] + 1) / (tot_tgt + DSIR_BUCKETS))
                            / ((n_raw[b] + 1) / (tot_raw + DSIR_BUCKETS))
                        ),
                        9,
                    )
                )
            )
            for b in n_raw
        }
        for did, r in top.items():
            lw = sum(n * w[b] for b, n in per_doc[did].items())
            assert abs(float(lw) - r["log_importance"]) < 1e-9, did
            assert sum(per_doc[did].values()) == r["n_tokens"]

    def test_plan_topk_and_broadcasts(self, spark, sf_dir):
        """Global top-K must be a TakeOrderedAndProject (never a full
        sort); the 64-row weight model must broadcast; no Python UDF."""
        from etl_embargo_spark.operators.sampling import q_dsir_weights

        plan = (
            q_dsir_weights(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestLevPrefilterExactness:
    """The in-kernel levenshtein pre-filters (length window, codepoint-
    histogram L1) are claimed EXACT — necessary conditions for lev <=
    LEV_MAX.  One edit changes at most one codepoint, so the codepoint-
    histogram L1 distance is bounded by 2*max_d (a substitution moves two
    histogram cells by one each).  Brute force a mixed ascii/unicode
    corpus (unicode pins codepoint — not byte — semantics, matching
    Spark's F.levenshtein) and assert the pipeline finds exactly the
    true pair set."""

    def test_matches_brute_force_with_unicode(self, spark, tmp_path):
        import itertools

        from etl_embargo_spark.operators.dedup import LEV_MAX

        base = "the quick brown fox jumps over the lazy dog " * 4
        uni = "σχεδόν ίδια πρόταση με ελάχιστες αλλαγές εδώ " * 4
        rows = [
            (1, "en", "web", base),
            (2, "en", "web", base[:-5] + "dig"),            # small edit
            (3, "en", "web", base + "x" * 40),              # len diff > 32
            (4, "en", "web", "completely different words entirely " * 5),
            (5, "el", "web", uni),
            (6, "el", "web", uni.replace("ίδια", "όμοια")), # unicode edit
            (7, "el", "web", uni[: len(uni) // 2]),         # far away
            (8, "en", "app", base),                         # other block
        ]

        def lev(a, b):
            if abs(len(a) - len(b)) > LEV_MAX:
                return LEV_MAX + 1
            prev = list(range(len(b) + 1))
            for i in range(1, len(a) + 1):
                cur = [i] + [0] * len(b)
                for j in range(1, len(b) + 1):
                    cur[j] = min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (a[i - 1] != b[j - 1]),
                    )
                prev = cur
            return prev[len(b)]

        want = {}
        for (ia, la, sa, ta), (ib, lb, sb, tb) in itertools.combinations(
            rows, 2
        ):
            if (la, sa) != (lb, sb):
                continue
            d = lev(ta, tb)
            if d <= LEV_MAX:
                want[(ia, ib)] = d

        # run through the real builder against a parquet table so the
        # footer-sized shard width path is exercised end to end
        docs = spark.createDataFrame(
            [(i, t, lg, s, len(t)) for i, lg, s, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from etl_embargo_spark.operators.dedup import q_dedup_levenshtein

        got = {
            (r["doc_a"], r["doc_b"]): r["lev"]
            for r in q_dedup_levenshtein(spark, str(tmp_path)).collect()
        }
        assert got == want, (got, want)

    def test_streamed_chunks_match_brute_force(self):
        """The r12 streamed pair pipeline (CHUNK-sized enumeration +
        histogram filtering, DP_CHUNK survivor batches, pending flush)
        must be output-identical to brute force when a single block
        enumerates MORE pairs than one chunk — the path sf3's 26.6M-pair
        blocks take.  Spark-free: the kernel is called directly with a
        block whose ~180k window pairs exceed CHUNK (131072)."""
        import random

        import numpy as np
        import pandas as pd

        from etl_embargo_spark.operators.dedup import _make_lev_block_kernel

        rng = random.Random(7)
        n = 600
        texts = [
            "".join(rng.choice("ab") for _ in range(rng.randint(4, 8)))
            for _ in range(n - 2)
        ] + ["", ""]  # empty docs hit the zero-length path
        max_d = 3

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i in range(1, len(a) + 1):
                cur = [i] + [0] * len(b)
                for j in range(1, len(b) + 1):
                    cur[j] = min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (a[i - 1] != b[j - 1]),
                    )
                prev = cur
            return prev[len(b)]

        want = {}
        for i in range(n):
            for j in range(i + 1, n):
                if abs(len(texts[i]) - len(texts[j])) > max_d:
                    continue
                d = lev(texts[i], texts[j])
                if d <= max_d:
                    want[(i, j)] = d

        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "band": np.zeros(n, dtype=np.int32),
                "_block": np.zeros(n, dtype=np.int32),
            }
        )
        out = _make_lev_block_kernel(max_d)(pdf)
        got = {
            (int(a), int(b)): int(d)
            for a, b, d in zip(out["doc_a"], out["doc_b"], out["lev"])
        }
        assert got == want, (len(got), len(want))


class TestSpatialJoin:
    def test_matches_brute_force_and_pairs_unique(self, spark, sf_dir):
        """The forward-half-neighborhood grid join (round 8) must emit
        EXACTLY the brute-force O(n²) radius pair set, each pair once
        (uniqueness is by construction now — no trailing distinct to
        hide a double-covered cell adjacency) and oriented a < b."""
        import itertools

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.geo import (
            GEO_RADIUS_DEG,
            customer_points,
            q_spatial_join,
        )

        cust = load_table(spark, sf_dir, "customer")
        pts = {
            r.cust_id: (r.lat, r.lon)
            for r in customer_points(cust).collect()
        }
        r2 = GEO_RADIUS_DEG * GEO_RADIUS_DEG
        want = {}
        for a, b in itertools.combinations(sorted(pts), 2):
            d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
            if d2 <= r2:
                want[(a, b)] = round(d2 ** 0.5, 6)
        rows = q_spatial_join(spark, sf_dir).collect()
        got = [((r.cust_a, r.cust_b), r.dist_deg) for r in rows]
        assert len(got) == len(set(p for p, _ in got)), "duplicate pairs"
        assert all(a < b for (a, b), _ in got), "orientation"
        assert dict(got) == want


class TestLabelPropagation:
    def test_matches_python_sync_lpa(self, spark, sf_dir):
        """Spark label propagation must match a sequential synchronous
        replay (most-frequent neighbour label, ties to smallest) over
        the same spatial neighbour edges — exact integer labels, so the
        compare is equality, no tolerance."""
        from collections import Counter, defaultdict

        from etl_embargo_spark.operators.graph import (
            LP_ITERS,
            label_propagation_labels,
            lpa_edges,
        )

        sym = [(r.src, r.dst) for r in lpa_edges(spark, sf_dir).collect()]
        nbrs = defaultdict(list)
        for a, b in sym:
            nbrs[a].append(b)
        labels = {v: v for v in nbrs}
        for _ in range(LP_ITERS):
            nxt = {}
            for v, ns in nbrs.items():
                cnt = Counter(labels[u] for u in ns)
                nxt[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            labels = nxt
        got = {
            r.id: r.label
            for r in label_propagation_labels(spark, sf_dir).collect()
        }
        assert got == labels
        # non-degenerate on the geometric graph: more than one community
        assert len(set(got.values())) > 1

    def test_toy_two_cliques(self, spark):
        """Two triangles joined by a single bridge keep two communities
        (each triangle's majority beats the one bridge vote)."""
        from etl_embargo_spark.operators.graph import label_propagation

        tri_a = [(0, 1), (1, 2), (0, 2)]
        tri_b = [(10, 11), (11, 12), (10, 12)]
        bridge = [(2, 10)]
        und = tri_a + tri_b + bridge
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src long, dst long"
        )
        out = {r.id: r.label for r in label_propagation(edges).collect()}
        assert len({out[0], out[1], out[2]} | {out[10], out[11], out[12]}) == 2
        assert {out[0], out[1], out[2]} != {out[10], out[11], out[12]}


class TestBloomFpr:
    def test_matches_bruteforce(self, spark, sf_dir):
        """The exact bit set, FP count, and corpus-derived m must match
        a sequential md5 replay over the same keys."""
        import hashlib

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.sketches import (
            BLOOM_BITS_PER_KEY,
            BLOOM_K,
            q_bloom_fpr,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).collect()
        m = BLOOM_BITS_PER_KEY * len(orders)

        def pos(key, r):
            h = hashlib.md5(f"{r}:{key}".encode()).hexdigest()
            return int(h[:8], 16) % m

        bits = {
            pos(o.o_orderkey, r)
            for o in orders
            if o.o_orderpriority == "1-URGENT"
            for r in range(BLOOM_K)
        }
        n_fp = sum(
            1
            for o in orders
            if o.o_orderpriority != "1-URGENT"
            and all(pos(o.o_orderkey, r) in bits for r in range(BLOOM_K))
        )
        row = q_bloom_fpr(spark, sf_dir).collect()[0]
        assert row.m == m
        assert row.n_bits_set == len(bits)
        assert row.n_fp == n_fp
        # one-sided error: every inserted key is bloom-positive by
        # construction, so the only error mode is false positives,
        # and the fill fraction stays in the designed regime
        assert row.fill_frac < 0.5


class TestShapleyAttribution:
    def test_matches_bruteforce_and_axioms(self, spark, sf_dir):
        """Exact-integer Shapley numerators must match a sequential
        replay (coalitions, subset-sum v, factorial weights), and the
        result must satisfy the efficiency axiom:
        sum(num_i) = n! * (v(N) - v(empty))."""
        from math import factorial

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.analytics import (
            SHAPLEY_CONV,
            q_shapley_attribution,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts"
        ).collect()
        fpts = {}
        for e in ev:
            if e.event_type == SHAPLEY_CONV:
                cur = fpts.get(e.user_id)
                if cur is None or e.ts < cur:
                    fpts[e.user_id] = e.ts
        users = {e.user_id for e in ev}
        channels = sorted(
            {e.event_type for e in ev if e.event_type != SHAPLEY_CONV}
        )
        cid = {c: i for i, c in enumerate(channels)}
        n = len(channels)
        mask = dict.fromkeys(users, 0)
        for e in ev:
            if e.event_type == SHAPLEY_CONV:
                continue
            f = fpts.get(e.user_id)
            if f is None or e.ts < f:
                mask[e.user_id] |= 1 << cid[e.event_type]
        conv = {}
        for u in users:
            conv[mask[u]] = conv.get(mask[u], 0) + (1 if u in fpts else 0)

        def v(s):
            return sum(c for m_, c in conv.items() if (s & m_) == m_)

        nums = {}
        for c in channels:
            i = cid[c]
            tot = 0
            for s in range(1 << n):
                if (s >> i) & 1:
                    continue
                b = bin(s).count("1")
                tot += (
                    factorial(b)
                    * factorial(n - 1 - b)
                    * (v(s | (1 << i)) - v(s))
                )
            nums[c] = tot
        rows = q_shapley_attribution(spark, sf_dir).collect()
        got = {r.channel: r.num_weighted for r in rows}
        assert got == nums
        # efficiency axiom
        assert sum(got.values()) == factorial(n) * (
            v((1 << n) - 1) - v(0)
        )


class TestShapleyChannelCap:
    def test_oversized_universe_fails_loudly(self, spark, tmp_path):
        """ADVICE r9: >SHAPLEY_MAX_CHANNELS event types must raise at
        execution (raise_error in the plan — builders stay job-free),
        never silently wrap the mask shift or explode 2^n rows."""
        import datetime

        import pytest

        from etl_embargo_spark.operators.analytics import (
            SHAPLEY_MAX_CHANNELS,
            q_shapley_attribution,
        )

        nch = SHAPLEY_MAX_CHANNELS + 1
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (i, base + datetime.timedelta(minutes=i), 1,
             f"ch_{i:02d}", 1.0, "{}")
            for i in range(nch)
        ] + [(nch, base + datetime.timedelta(days=1), 1,
              "purchase", 5.0, "{}")]
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "events.parquet")
        )
        with pytest.raises(Exception, match="SHAPLEY_MAX_CHANNELS"):
            q_shapley_attribution(spark, str(tmp_path)).collect()


class TestDbscan:
    def test_matches_bruteforce(self, spark, sf_dir):
        """Full DBSCAN replay: O(n²) neighbor scan in numpy, core/
        border/noise roles, components by union-find, border assigned
        the smallest CLUSTER ID among its core neighbours (min over
        cluster, not the smallest-id neighbour's cluster) — exact
        equality against the tiled/contracted Spark implementation."""
        import math

        import numpy as np

        from etl_embargo_spark.catalog import load_table, table_rows
        from etl_embargo_spark.operators.geo import (
            DBSCAN_MINPTS,
            DBSCAN_TARGET_DEG,
            GEO_SPAN,
            customer_points,
            dbscan_points,
        )

        n = table_rows(sf_dir, "customer", default=1_500)
        eps = math.sqrt(
            DBSCAN_TARGET_DEG * GEO_SPAN * GEO_SPAN / (math.pi * n)
        )
        pts = {
            r.cust_id: (r.lat, r.lon)
            for r in customer_points(
                load_table(spark, sf_dir, "customer")
            ).collect()
        }
        ids = sorted(pts)
        xy = np.array([pts[i] for i in ids])
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
        nbr = (d2 <= eps * eps) & ~np.eye(len(ids), dtype=bool)
        is_core = nbr.sum(1) + 1 >= DBSCAN_MINPTS
        parent = {i: i for i in range(len(ids))}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in range(len(ids)):
            if not is_core[i]:
                continue
            for j in np.nonzero(nbr[i])[0]:
                if j > i and is_core[j]:
                    ri, rj = find(i), find(int(j))
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        # component min ID per core
        comp_min: dict[int, int] = {}
        for i in range(len(ids)):
            if is_core[i]:
                r = find(i)
                comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
        want = {}
        for i, cid in enumerate(ids):
            if is_core[i]:
                want[cid] = ("core", comp_min[find(i)])
            else:
                core_nbrs = [
                    comp_min[find(int(j))]
                    for j in np.nonzero(nbr[i])[0]
                    if is_core[j]
                ]
                if core_nbrs:
                    want[cid] = ("border", min(core_nbrs))
                else:
                    want[cid] = ("noise", None)
        got = {
            r.id: (r.role, r.cluster)
            for r in dbscan_points(spark, sf_dir).collect()
        }
        assert got == want
        # structural non-degeneracy at the pinned density
        roles = {v[0] for v in got.values()}
        assert roles == {"core", "border", "noise"}


class TestKcore:
    def test_matches_bruteforce_peel(self, spark, sf_dir):
        """kcore_edges must equal a numpy iterative peel: same surviving
        node set, same edge count (and the rollup's counts agree)."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.graph import (
            KCORE_K,
            kcore_edges,
            q_kcore,
        )

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).collect()
        by_order: dict = {}
        for r in li:
            by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        pairs = set()
        for parts in by_order.values():
            ps = sorted(parts)
            for i in range(len(ps)):
                for j in range(i + 1, len(ps)):
                    pairs.add((ps[i], ps[j]))
        ea = np.array([a for a, _ in pairs], dtype=np.int64)
        eb = np.array([b for _, b in pairs], dtype=np.int64)
        while len(ea):
            m = int(max(ea.max(), eb.max())) + 1
            deg = np.bincount(ea, minlength=m) + np.bincount(
                eb, minlength=m
            )
            bad = deg < KCORE_K
            mask = ~(bad[ea] | bad[eb])
            if mask.all():
                break
            ea, eb = ea[mask], eb[mask]
        want_nodes = (
            set(np.unique(np.concatenate([ea, eb])).tolist())
            if len(ea)
            else set()
        )
        core, _rounds = kcore_edges(spark, sf_dir)
        got_nodes = {
            r.src for r in core.select("src").distinct().collect()
        }
        assert got_nodes == want_nodes
        assert core.count() == 2 * len(ea)  # symmetric relation
        roll = q_kcore(spark, sf_dir).collect()[0]
        assert roll.n_core_nodes == len(want_nodes)
        assert roll.n_core_edges == len(ea)
        # non-degenerate at the gate SF: a strict, non-empty subset
        assert 0 < len(want_nodes) < len(
            {n for n in np.concatenate([[a for a, _ in pairs],
                                        [b for _, b in pairs]])}
        )


class TestHits:
    def test_matches_python_replay(self, spark, sf_dir):
        """hits_scores must match a sequential pure-python HITS run
        (same edges, same rounds, max normalization) to within the
        detail's own 8 dp rounding (≤5e-9) plus float merge-order
        noise — 1e-8 total."""
        from collections import defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.graph import (
            HITS_ITERS,
            hits_scores,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        ).collect()
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).collect()
        cust_of = {r.o_orderkey: r.o_custkey for r in orders}
        edges = {
            (cust_of[r.l_orderkey], r.l_partkey)
            for r in li
            if r.l_orderkey in cust_of
        }
        h = {c: 1.0 for c, _ in edges}
        for _ in range(HITS_ITERS):
            a = defaultdict(float)
            for c, p in sorted(edges):
                a[p] += h[c]
            am = max(a.values())
            a = {p: v / am for p, v in a.items()}
            h2 = defaultdict(float)
            for c, p in sorted(edges):
                h2[c] += a[p]
            hm = max(h2.values())
            h = {c: v / hm for c, v in h2.items()}
        hubs, auths = hits_scores(spark, sf_dir)
        got_h = {r.cust: r.score for r in hubs.collect()}
        got_a = {r.part: r.score for r in auths.collect()}
        assert set(got_h) == set(h) and set(got_a) == set(a)
        assert max(abs(got_h[c] - h[c]) for c in h) < 1e-8
        assert max(abs(got_a[p] - a[p]) for p in a) < 1e-8
        # hubs and authorities are non-constant (the readout is
        # informative, not a normalization artifact)
        assert len({round(v, 6) for v in got_h.values()}) > 10
        assert len({round(v, 6) for v in got_a.values()}) > 10


class TestIsotonic:
    def test_matches_sequential_pav(self, spark, sf_dir):
        """q_isotonic must equal a sequential pool-adjacent-violators
        replay over q_logreg's scores (exact integer pooling; rates
        compared after the builder's 6 dp rounding), and the fit must
        be non-decreasing and non-degenerate."""
        from etl_embargo_spark.operators.clustering import (
            ISO_BINS,
            q_isotonic,
            q_logreg,
        )

        scored = q_logreg(spark, sf_dir).select("p", "y").collect()
        bins: dict[int, list[int]] = {}
        for r in scored:
            b = min(int(r.p * ISO_BINS), ISO_BINS - 1)
            cur = bins.setdefault(b, [0, 0])
            cur[0] += 1
            cur[1] += int(r.y)
        pools = []
        for b in sorted(bins):
            n, pos = bins[b]
            cur = [b, b, n, pos]
            while pools and pools[-1][3] * cur[2] > cur[3] * pools[-1][2]:
                p = pools.pop()
                cur = [p[0], cur[1], p[2] + cur[2], p[3] + cur[3]]
            pools.append(cur)
        got = sorted(
            q_isotonic(spark, sf_dir).collect(),
            key=lambda r: r.pool_id,
        )
        assert [(g.bin_lo, g.bin_hi, g.n, g.n_pos) for g in got] == [
            (p[0], p[1], p[2], p[3]) for p in pools
        ]
        for g, p in zip(got, pools):
            assert abs(g.rate - p[3] / p[2]) < 5.1e-7  # 6 dp rounding
        rates = [g.rate for g in got]
        assert rates == sorted(rates)  # isotonic
        assert len(got) >= 3  # non-degenerate pooling at the gate SF


class TestBpeEncode:
    def test_rollup_matches_python_encode(self, spark, sf_dir):
        """q_bpe_encode must equal the tokens-per-word rollup of the
        python reference trainer's FINAL vocabulary state (training's
        last round has already applied every merge)."""
        import re
        from collections import Counter, defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import (
            BPE_MERGES,
            q_bpe_encode,
        )

        wc: Counter = Counter()
        for d in load_table(spark, sf_dir, "documents").collect():
            if d.n_chars <= 0:
                continue
            for w in re.split(r"\s+", d.text.strip().lower()):
                if len(w) >= 2:
                    wc[w] += 1
        _, vocab = TestBpeTrain._python_bpe(wc, BPE_MERGES)
        buckets: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])
        for syms, c in vocab.items():
            b = buckets[len(syms)]
            b[0] += 1
            b[1] += c
            b[2] += c * sum(len(s) for s in syms)
        got = {
            r.n_toks: (
                r.n_distinct_words,
                r.n_word_occurrences,
                r.char_mass,
            )
            for r in q_bpe_encode(spark, sf_dir).collect()
        }
        want = {k: tuple(v) for k, v in buckets.items()}
        assert got == want
        assert len(got) >= 3  # non-degenerate bucket spread


class TestMmrDiversify:
    def test_matches_sequential_greedy(self, spark, sf_dir):
        """q_mmr_diversify must equal a sequential greedy MMR replay
        over the same pool (relevance from the engine-exact cosine
        relation; pairwise sims recomputed in numpy)."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import (
            MMR_K,
            MMR_LAMBDA,
            MMR_POOL,
            RRF_QUERY_VEC,
            exact_cosine_scores,
            q_mmr_diversify,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        rel = {
            r.vec_id: r.cos
            for r in exact_cosine_scores(emb)
            .filter(F.col("vec_id") != RRF_QUERY_VEC)
            .collect()
        }
        pool = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_POOL]
        vecs = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.filter(
                F.col("vec_id").isin([int(v) for v in pool])
            ).collect()
        }

        def cos(a, b):
            return float(
                vecs[a] @ vecs[b]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            )

        chosen: list[int] = []
        expect = []
        for rank in range(min(MMR_K, len(pool))):
            best, best_m = None, None
            for v in sorted(pool):
                if v in chosen:
                    continue
                pen = max((cos(v, c) for c in chosen), default=0.0)
                m = MMR_LAMBDA * rel[v] - (1.0 - MMR_LAMBDA) * pen
                if best_m is None or m > best_m:
                    best, best_m = v, m
            chosen.append(best)
            expect.append((rank + 1, best, best_m))
        got = sorted(
            q_mmr_diversify(spark, sf_dir).collect(),
            key=lambda r: r.rank,
        )
        assert [(g.rank, g.vec_id) for g in got] == [
            (r, v) for r, v, _ in expect
        ]
        for g, (_, v, m) in zip(got, expect):
            assert abs(g.mmr - m) < 1e-6 + 1e-9
            assert abs(g.cosine - rel[v]) < 5.1e-7
        # diversification actually reordered something vs pure relevance
        assert [g.vec_id for g in got] != pool[:MMR_K]


class TestDecontaminateSemantic:
    def test_matches_numpy_bruteforce(self, spark, sf_dir):
        """q_decontaminate_semantic must equal a numpy brute force over
        the same 6-dp-quantized components: per training vector the
        eval-hit count at SEMDECON_TAU, the max cosine (6 dp), and the
        flag."""
        import numpy as np

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.similarity import (
            SEMDECON_EVAL_CAP,
            SEMDECON_EVAL_MOD,
            SEMDECON_TAU,
            q_decontaminate_semantic,
        )

        rows = load_table(spark, sf_dir, "embeddings").collect()
        ids = np.array([r.vec_id for r in rows])
        raw = np.array([r.embedding for r in rows], dtype=np.float64)
        # HALF_UP 6-dp integer quantization (np.round is banker's —
        # CLAUDE.md rule — so mirror F.round explicitly); all sums stay
        # exact integers below 2^53, so float64 matmul is exact
        V = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5)
        ev = (ids % SEMDECON_EVAL_MOD == 0) & (ids < SEMDECON_EVAL_CAP)
        dots = V[~ev] @ V[ev].T
        nt = np.sqrt((V[~ev] ** 2).sum(1))[:, None]
        ne = np.sqrt((V[ev] ** 2).sum(1))[None, :]
        S = dots / (nt * ne)
        want = {
            int(vid): (
                int((S[j] >= SEMDECON_TAU).sum()),
                round(float(S[j].max()), 6),
            )
            for j, vid in enumerate(ids[~ev])
        }
        got = {
            r.doc_id: (r.n_eval_hits, r.max_cos, r.contaminated)
            for r in q_decontaminate_semantic(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        n_flagged = 0
        for vid, (hits, mc) in want.items():
            ghits, gmc, gflag = got[vid]
            assert ghits == hits, vid
            assert abs(gmc - mc) < 1e-6, vid
            assert gflag == (hits > 0), vid
            n_flagged += int(gflag)
        # non-degenerate at every gate SF (measured 3/9/89 flagged)
        assert 0 < n_flagged < len(want)


class TestBpeFertility:
    def test_matches_python_replay(self, spark, sf_dir):
        """q_bpe_fertility must equal the per-lang rollup of the python
        reference trainer's final vocabulary state joined to per-(lang,
        word) corpus counts."""
        import re
        from collections import Counter, defaultdict

        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.operators.text import (
            BPE_MERGES,
            q_bpe_fertility,
        )

        wc: Counter = Counter()
        lang_wc: Counter = Counter()
        for d in load_table(spark, sf_dir, "documents").collect():
            if d.n_chars <= 0:
                continue
            for w in re.split(r"\s+", d.text.strip().lower()):
                if len(w) >= 2:
                    wc[w] += 1
                    lang_wc[(d.lang, w)] += 1
        _, vocab = TestBpeTrain._python_bpe(wc, BPE_MERGES)
        ntoks = {"".join(s): len(s) for s in vocab}
        agg: dict = defaultdict(lambda: [0, 0, 0, 0])
        for (lang, w), c in lang_wc.items():
            a = agg[lang]
            a[0] += 1
            a[1] += c
            a[2] += c * ntoks[w]
            a[3] += c * len(w)
        got = {
            r.lang: (
                r.n_distinct_words,
                r.n_words,
                r.n_tokens,
                r.char_mass,
                r.tokens_per_word,
                r.chars_per_token,
            )
            for r in q_bpe_fertility(spark, sf_dir).collect()
        }
        assert set(got) == set(agg)
        for lang, (nd, nw, nt, cm) in (
            (k, tuple(v)) for k, v in agg.items()
        ):
            gnd, gnw, gnt, gcm, tpw, cpt = got[lang]
            assert (gnd, gnw, gnt, gcm) == (nd, nw, nt, cm), lang
            assert abs(tpw - nt / nw) < 1e-6, lang
            assert abs(cpt - cm / nt) < 1e-6, lang
        assert len(got) >= 2  # non-degenerate language spread


class TestIncrementalNearDedup:
    """q_incremental_dedup_near (r12): the cross-run near-dup ingest
    gate.  Planted corpus: exact cross-side dups, a high-Jaccard near
    pair (J ≈ 0.96 → LSH candidate probability ~1), a new-side-only
    near pair (must NOT count: the gate checks against STANDING only),
    and unique docs."""

    BASE = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four "
    ) * 3

    NEW_BASE = (
        "red orange yellow green blue indigo violet crimson amber teal "
        "maroon olive navy coral salmon plum orchid ivory jade ruby "
    ) * 4

    def _docs(self, spark, tmp_path):
        near = self.BASE.replace("oscar", "OSCAR", 1)  # one-word edit
        rows = [
            # (doc_id, text, source) — even standing, odd new
            (2, self.BASE + "standing tail words here", "s1"),
            (4, "completely different standing text " * 8, "s1"),
            (6, "another unique standing document entirely " * 8, "s2"),
            (1, self.BASE + "standing tail words here", "s1"),  # exact dup of 2
            (9, self.BASE + "standing tail words here", "s2"),  # exact dup of 2
            (3, near + "standing tail words here", "s1"),       # near-dup of 2
            (5, "a fresh never seen before document " * 8, "s2"),  # clean
            # near-dups of EACH OTHER only (disjoint vocab from standing):
            # the gate is vs the standing corpus, so both must come out clean
            (7, "omega " + self.NEW_BASE, "s2"),
            (11, "omega omega " + self.NEW_BASE, "s2"),
        ]
        import pandas as pd

        pdf = pd.DataFrame(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "lang": "en",
                    "source": s,
                    "n_chars": len(t),
                }
                for i, t, s in rows
            ]
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        from etl_embargo_spark.catalog import load_table

        return load_table(spark, str(tmp_path), "documents")

    def test_flags_match_planted_truth(self, spark, tmp_path):
        from etl_embargo_spark.operators.dedup import incremental_near_dedup

        docs = self._docs(spark, tmp_path)
        got = {
            r.source: (r.n_new_docs, r.n_exact_dup, r.n_near_dup, r.n_clean)
            for r in incremental_near_dedup(docs).collect()
        }
        # s1 new docs: 1 (exact), 3 (near).  s2 new docs: 9 (exact),
        # 5 (clean), 7 and 11 (near each other but NOT of any standing
        # doc -> clean: the gate is against the standing corpus only).
        assert got == {
            "s1": (2, 1, 1, 0),
            "s2": (4, 1, 0, 3),
        }, got

    def test_snapshot_band_index_roundtrip(self, spark, tmp_path):
        """The standing band index persisted through the snapshot
        manifest and read back must produce verdicts IDENTICAL to the
        recompute path — the production corpus-refresh wiring."""
        from pyspark.sql import functions as F

        from etl_embargo_spark.operators.dedup import (
            incremental_near_dedup,
            standing_band_index,
        )
        from etl_embargo_spark.sinks.snapshots import (
            read_snapshot,
            write_snapshot,
        )

        docs = self._docs(spark, tmp_path)
        st_reps = (
            docs.filter((F.col("doc_id") % 2 == 0) & (F.col("n_chars") > 0))
            .groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
            .select("doc_id", "text")
        )
        table = str(tmp_path / "standing_bands")
        write_snapshot(standing_band_index(st_reps), table, mode="append")
        from_snap = {
            tuple(r)
            for r in incremental_near_dedup(
                docs, standing_bands=read_snapshot(spark, table)
            ).collect()
        }
        recomputed = {
            tuple(r) for r in incremental_near_dedup(docs).collect()
        }
        assert from_snap == recomputed and from_snap
