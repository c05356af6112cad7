"""Seeded input generators for the three benchmark jobs.

Every generator writes files under a directory it is given and returns a
plain dict describing them.  The dict also carries the ground truth the
oracles in ``perfbench.oracle`` need (entry digests, key ranges, planted
duplicates); the package under test only ever sees the files.

The same ``(seed, size)`` always produces byte-identical files: tar headers
carry seeded mtimes, gzip headers carry ``mtime=0``, and parquet files are
written by pyarrow with fixed options.

The input mix (the ``*_SHARE`` constants and the log-uniform entry sizes)
is an unverified placeholder: no reference sidestream data or bucket
listing is in the repository to measure it from.  These shares set how
much work each layer gets, so the per-layer figures describe this made-up
traffic; replace them with measured shares once such data is committed.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import ipaddress
import os
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# embargo_day: one day-prefix of sidestream archives plus the whitelist
# ---------------------------------------------------------------------------

EMBARGO_CUTOFF = 20160601  # archives dated before this are older than a year
SITES = ["lga0t", "nuq02", "ams03", "syd01", "mil04", "den02", "lhr05", "tyo01"]
WHITELIST_SIZE = 3500
WHITELIST_V6_SHARE = 0.3

# Placeholder input mix (see the module docstring).  Per archive:
UNDATED_SHARE = 0.06  # archive name has no parsable date
OLD_SHARE = 0.3  # archive dated before EMBARGO_CUTOFF
# Per entry:
SHORT_NAME_SHARE = 0.08  # fewer than two underscores: no local IP
BAD_IPV6_SHARE = 0.03  # local IP field that is not a valid address
WHITELIST_HIT_SHARE = 0.35  # of the entries with a valid IP
WEB100_SHARE = 0.75  # of the entries with a valid IP
NON_REGULAR_SHARE = 0.03  # directory or symlink entries


def _ipv4(rng: np.random.Generator, n: int) -> list[str]:
    octets = rng.integers(1, 255, size=(n, 4))
    return [".".join(map(str, row)) for row in octets]


def _ipv6(rng: np.random.Generator, n: int) -> list[str]:
    """Canonical IPv6 strings, most with a zero run so ``::`` appears."""
    out = []
    for groups in rng.integers(0, 0x10000, size=(n, 8)):
        groups = groups.copy()
        if rng.random() < 0.8:
            start = int(rng.integers(2, 6))
            groups[start : start + int(rng.integers(2, 4))] = 0
        out.append(str(ipaddress.IPv6Address(int.from_bytes(
            b"".join(int(g).to_bytes(2, "big") for g in groups), "big"))))
    return out


def _sidestream_form(ip: str, rng: np.random.Generator) -> str:
    """Spell a canonical IP the way sidestream file names do: ``::`` is
    written ``:::`` and some groups keep leading zeros.  Both spellings
    normalize back to ``ip``."""
    if ":" not in ip:
        return ip
    if "::" in ip and rng.random() < 0.7:
        return ip.replace("::", ":::")
    return ipaddress.IPv6Address(ip).exploded


def _content_pool(rng: np.random.Generator, n_bytes: int) -> bytes:
    """Bytes that entry contents are sliced from: a repeated 512-byte
    record with 15 % of its bytes redrawn, which gzips to about 0.4 of
    its size, like web100 snapshot logs."""
    pool = np.tile(rng.integers(0, 256, 512, dtype=np.uint8), n_bytes // 512 + 1)
    noise = rng.random(pool.size) < 0.15
    pool[noise] = rng.integers(0, 256, int(noise.sum()), dtype=np.uint8)
    return pool.tobytes()


def gen_embargo_day(
    root: str,
    seed: int,
    n_archives: int,
    entries_per_archive: int,
    max_entry_bytes: int,
) -> dict:
    """Write ``n_archives`` sidestream ``.tgz`` archives and a whitelist
    parquet of :data:`WHITELIST_SIZE` IPs under ``root``.

    Varied input properties, in the placeholder shares above: web100
    share, whitelist hits, IPv6 share including the ``:::`` spelling,
    unparsable IPv6, names with fewer than two underscores, non-regular
    tar entries, archives older than the cutoff and archives whose name
    has no parsable date.  Entry sizes are log-uniform from 24 bytes to
    ``max_entry_bytes``, stratified within each archive.
    """
    rng = np.random.default_rng([seed, 1])
    arch_dir = os.path.join(root, "archives")
    os.makedirs(arch_dir, exist_ok=True)

    n_v6 = int(WHITELIST_SIZE * WHITELIST_V6_SHARE)
    whitelist = _ipv4(rng, WHITELIST_SIZE - n_v6) + _ipv6(rng, n_v6)
    whitelist = list(dict.fromkeys(whitelist))
    wl_path = os.path.join(root, "whitelist.parquet")
    pq.write_table(pa.table({"ip": whitelist}), wl_path)
    wl_set = set(whitelist)
    strangers = [ip for ip in _ipv4(rng, 600) + _ipv6(rng, 300) if ip not in wl_set]

    pool = _content_pool(rng, 2 * max_entry_bytes + 1)
    # archive ages in fixed shares, shuffled
    n_undated = max(1, round(UNDATED_SHARE * n_archives))
    n_old = round(OLD_SHARE * n_archives)
    kinds = rng.permutation(
        ["undated"] * n_undated + ["old"] * n_old
        + ["new"] * (n_archives - n_undated - n_old)
    )
    entries: list[dict] = []
    input_bytes = 0
    for a, kind in enumerate(kinds):
        site = SITES[a % len(SITES)]
        if kind == "undated":
            archive = f"sidestream-{site}-{a:04d}.tgz"  # no parsable date
            day = "20170301"
        else:
            day = "20150814" if kind == "old" else "20170301"
            archive = f"{day}T{a % 24:02d}0000Z-mlab{a % 4 + 1}-{site}-sidestream-{a:04d}.tgz"
        buf = io.BytesIO()
        raw = io.BytesIO()
        # one log-uniform size per stratum of the range: every seed's day
        # holds nearly the same bytes, so its job times differ by noise only
        strata = rng.permutation(entries_per_archive) + rng.random(entries_per_archive)
        sizes = np.exp(np.log(24) + strata / entries_per_archive * np.log(max_entry_bytes / 24))
        with tarfile.open(fileobj=raw, mode="w", format=tarfile.GNU_FORMAT) as tar:
            for e in range(entries_per_archive):
                stamp = f"{day}T{e % 24:02d}:{e % 60:02d}:{(a + e) % 60:02d}Z"
                r = rng.random()
                if r < SHORT_NAME_SHARE:
                    ip = ""
                    base = f"{stamp}_ALL{e}.web100"  # < 2 underscores
                elif r < SHORT_NAME_SHARE + BAD_IPV6_SHARE:
                    ip = ""
                    base = f"{stamp}_2001:zz8::{e:x}_{e:05d}.web100"  # bad IPv6
                else:
                    hit = rng.random() < WHITELIST_HIT_SHARE
                    pool_ips = whitelist if hit else strangers
                    ip = pool_ips[int(rng.integers(len(pool_ips)))]
                    ext = "web100" if rng.random() < WEB100_SHARE else rng.choice(
                        ["paris", "snaplog", "cputime"]
                    )
                    base = f"{stamp}_{_sidestream_form(ip, rng)}_{e:05d}.{ext}"
                path = f"{day[:4]}/{day[4:6]}/{day[6:]}/mlab{a % 4 + 1}.{site}/{base}"
                info = tarfile.TarInfo(path)
                info.mtime = 1_400_000_000 + int(rng.integers(0, 10**8))
                info.mode = 0o644
                if rng.random() < NON_REGULAR_SHARE:
                    info.type = tarfile.DIRTYPE if e % 2 else tarfile.SYMTYPE
                    info.linkname = "" if e % 2 else base
                    info.mode = 0o755
                    tar.addfile(info)
                    continue
                size = int(sizes[e])
                off = int(rng.integers(0, len(pool) - size))
                data = pool[off : off + size]
                info.size = size
                tar.addfile(info, io.BytesIO(data))
                entries.append({
                    "archive": archive,
                    "path": path,
                    "basename": base,
                    "mode": info.mode,
                    "sha": hashlib.sha256(data).hexdigest(),
                })
        tar_bytes = raw.getvalue()
        input_bytes += len(tar_bytes)
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, compresslevel=6) as gz:
            gz.write(tar_bytes)
        with open(os.path.join(arch_dir, archive), "wb") as f:
            f.write(buf.getvalue())
    return {
        "archive_glob": arch_dir,
        "whitelist_path": wl_path,
        "whitelist": whitelist,
        "cutoff_int": EMBARGO_CUTOFF,
        "entries": entries,
        "records": len(entries),
        "input_bytes": input_bytes,
    }


# ---------------------------------------------------------------------------
# publish_sync: public and private bucket listings
# ---------------------------------------------------------------------------

PUBLISH_CUTOFF = 20160601
SKEW_DAY = 20170301  # one oversized day-prefix
# Placeholder listing mix (see the module docstring).
LISTING_OVERLAP = 0.25  # share of the private ids that are also public
SKEW_SHARE = 0.25  # ids on SKEW_DAY
AGED_SHARE = 0.4  # ids dated before PUBLISH_CUTOFF
UNDATED_KEY_SHARE = 0.02  # private ids whose key has no parsable date


def _listing_keys(ids: np.ndarray, days: np.ndarray, bad_date: np.ndarray) -> pa.Array:
    """Object names ``YYYYMMDDT000000Z-mlab1-<site>-sidestream-<id>.tgz``;
    ``bad_date`` rows get a name with no parsable date prefix."""
    id_str = pc.utf8_lpad(pa.array(ids).cast(pa.string()), 8, "0")
    site = pa.array(np.array(SITES)[ids % len(SITES)])
    prefix = pc.if_else(
        pa.array(bad_date),
        pa.scalar("unknown_"),
        pc.binary_join_element_wise(pa.array(days).cast(pa.string()), "T000000Z", ""),
    )
    return pc.binary_join_element_wise(
        prefix, "-mlab1-", site, "-sidestream-", id_str, ".tgz", ""
    )


def _etags(rng: np.random.Generator, n: int) -> pa.Array:
    hexed = rng.bytes(16 * n).hex().encode()
    return pa.array(np.frombuffer(hexed, dtype="S32")).cast(pa.string())


def gen_publish_sync(
    root: str,
    seed: int,
    n_public: int,
    n_private: int,
) -> dict:
    """Write ``public.parquet`` and ``private.parquet`` listings of
    ``(key, size, etag, visibility)``.

    Public holds ids ``[0, n_public)``; private holds the next
    ``n_private`` ids starting ``LISTING_OVERLAP * n_private`` below
    ``n_public``, so the two overlap on a known id range.  Every id has one
    day: :data:`SKEW_SHARE` of all ids share :data:`SKEW_DAY`,
    :data:`AGED_SHARE` are older than the cutoff, and
    :data:`UNDATED_KEY_SHARE` of the private ids have no parsable date
    (they must stay private).  All shares are placeholders.
    """
    rng = np.random.default_rng([seed, 2])
    n_over = int(n_private * LISTING_OVERLAP)
    lo_q = n_public - n_over
    total = lo_q + n_private
    ids = np.arange(total, dtype=np.int64)
    old_days = np.array([20150101 + 100 * m + d for m in range(12) for d in range(1, 28)])
    new_days = np.array([20160701 + 100 * (m % 6) + d for m in range(6) for d in range(1, 28)])
    r = rng.random(total)
    days = np.where(
        r < SKEW_SHARE,
        SKEW_DAY,
        np.where(
            r < SKEW_SHARE + AGED_SHARE,
            rng.choice(old_days, total),
            rng.choice(new_days, total),
        ),
    )
    bad = np.zeros(total, dtype=bool)
    bad[lo_q:] = rng.random(n_private) < UNDATED_KEY_SHARE
    keys = _listing_keys(ids, days, bad)
    sizes = rng.integers(1_000, 50_000_000, total)
    etags = {"public": _etags(rng, n_public), "private": _etags(rng, n_private)}

    def write(name: str, sel: slice) -> str:
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(
            pa.table({
                "key": keys[sel],
                "size": pa.array(sizes[sel]),
                "etag": etags[name],
                "visibility": pa.array([name] * (sel.stop - sel.start)),
            }),
            path,
            row_group_size=128 * 1024,
        )
        return path

    os.makedirs(root, exist_ok=True)
    pub_path = write("public", slice(0, n_public))
    priv_path = write("private", slice(lo_q, total))
    return {
        "public_path": pub_path,
        "private_path": priv_path,
        "cutoff_int": PUBLISH_CUTOFF,
        "ids": ids,
        "days": days,
        "bad_date": bad,
        "keys": keys,
        "etags": etags,
        "public_ids": (0, n_public),
        "private_ids": (lo_q, total),
        "records": n_public + n_private,
        "input_bytes": os.path.getsize(pub_path) + os.path.getsize(priv_path),
    }


# ---------------------------------------------------------------------------
# corpus_dedup: a documents table with planted exact and near duplicates
# ---------------------------------------------------------------------------

LANGS = ["en", "en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge spark order "
    "data column join small line customer query batch window big the a "
    "filter plan stage task shuffle broadcast sort limit group"
).split()


def gen_corpus(root: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` in the catalog schema.  Same document
    rule as ``tools/gen_testdata.py``: a zipf draw over the 34-word
    vocabulary, an exact duplicate of doc ``i - 17`` at every
    ``i % 17 == 1`` (``i > 17``), and a near duplicate of the previous doc
    (its first tenth of words replaced) at every ``i % 23 == 2``."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    zipf_w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf_w /= zipf_w.sum()
    texts: list[str] = []
    planted_exact: list[int] = []
    for i in range(n_docs):
        if i % 17 == 1 and i > 17:
            texts.append(texts[i - 17])
            planted_exact.append(i)
            continue
        words = rng.choice(vocab, size=int(rng.integers(8, 80)), p=zipf_w)
        if i % 23 == 2 and texts:
            base = texts[-1].split()
            k = max(1, len(base) // 10)
            base[:k] = ["twist"] * k
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words))
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "documents.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )
    return {
        "sf_dir": root,
        "texts": texts,
        "planted_exact": planted_exact,
        "records": n_docs,
        "input_bytes": sum(len(t.encode()) for t in texts),
    }
