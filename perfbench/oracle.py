"""Independent oracles: expected outputs computed from the generators'
ground truth with plain Python, numpy and pyarrow, and checks that read
each job's files back from disk.  Nothing here imports the package under
test, so a bug shared by the package and its oracle cannot hide.

Every ``check_*`` raises :class:`CheckFailed` with a short reason.
"""

from __future__ import annotations

import hashlib
import ipaddress
import os
import tarfile
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class CheckFailed(Exception):
    """A job's output disagrees with its oracle."""


def _require(ok: bool, reason: str) -> None:
    if not ok:
        raise CheckFailed(reason)


def _read_dir(path: str, columns: list[str] | None = None) -> pa.Table:
    """Read a Spark-written parquet directory (hive partitions included)."""
    return pq.read_table(path, columns=columns)


# ---------------------------------------------------------------------------
# embargo_day
# ---------------------------------------------------------------------------


def local_ip(basename: str) -> str:
    """The text strictly between the first and last underscore, or ``""``
    when the name has fewer than two underscores."""
    first, last = basename.find("_"), basename.rfind("_")
    return basename[first + 1 : last] if 0 <= first < last else ""


def normalize_ip(raw: str) -> str | None:
    """Canonical IP: IPv4 passes through, IPv6 is repaired (``:::`` is
    sidestream's spelling of ``::``) and RFC 5952-formatted, anything
    unparsable is None."""
    if not raw:
        return None
    if ":" not in raw:
        return raw
    try:
        return str(ipaddress.ip_address(raw.replace(":::", "::")))
    except ValueError:
        return None


def archive_date(archive: str) -> int | None:
    prefix = archive[:8]
    return int(prefix) if prefix.isdigit() and len(prefix) == 8 else None


def expected_embargo(inputs: dict, date_term: bool = True) -> dict:
    """Apply the three-term rule to every regular entry::

        public <=> archive older than the cutoff
                   or basename lacks "web100"
                   or the normalized local IP is whitelisted

    An archive with no parsable date drops the first term.  Returns
    ``{visibility: {(archive, path, local_ip, sha256(content))}}``.
    ``date_term=False`` gives the rule without the age term, which is
    what ``classify_entries(..., more_than_one_year=False)`` applies.
    """
    wl = set(inputs["whitelist"])
    cutoff = inputs["cutoff_int"]
    out: dict[str, set] = {"public": set(), "private": set()}
    for e in inputs["entries"]:
        ip = normalize_ip(local_ip(e["basename"]))
        day = archive_date(e["archive"])
        public = (
            (date_term and day is not None and day < cutoff)
            or "web100" not in e["basename"]
            or (ip is not None and ip in wl)
        )
        out["public" if public else "private"].add(
            (e["archive"], e["path"], ip, e["sha"])
        )
    return out


def repacked_name(archive: str, visibility: str) -> str:
    stem = archive[: -len(".tgz")] if archive.endswith(".tgz") else archive
    return stem + ("-e.tgz" if visibility == "private" else "-p.tgz")


def check_embargo(expected: dict, routed_dir: str, repack_dir: str) -> None:
    """Routed parquet and re-read repacked archives against the oracle."""
    t = _read_dir(routed_dir, ["archive", "path", "local_ip", "content", "visibility"])
    got: dict[str, set] = defaultdict(set)
    cols = t.to_pydict()
    for arch, path, ip, content, vis in zip(
        cols["archive"], cols["path"], cols["local_ip"], cols["content"], cols["visibility"]
    ):
        got[str(vis)].add((arch, path, ip, hashlib.sha256(content).hexdigest()))
    _require(t.num_rows == sum(len(v) for v in got.values()), "duplicate routed rows")
    for vis in ("public", "private"):
        missing = expected[vis] - got[vis]
        extra = got[vis] - expected[vis]
        _require(
            not missing and not extra,
            f"routed {vis}: {len(missing)} missing, {len(extra)} unexpected rows",
        )

    want_blobs: dict[str, set] = defaultdict(set)
    for vis, rows in expected.items():
        for arch, path, _ip, sha in rows:
            want_blobs[repacked_name(arch, vis)].add((path, sha))
    names = sorted(n for n in os.listdir(repack_dir) if not n.startswith("."))
    _require(names == sorted(want_blobs), f"repacked archive set differs ({len(names)} vs {len(want_blobs)})")
    for name in names:
        members = set()
        with tarfile.open(os.path.join(repack_dir, name), "r:gz") as tar:
            for info in tar:
                _require(info.isreg(), f"{name}: non-regular member {info.name}")
                members.add((info.name, hashlib.sha256(tar.extractfile(info).read()).hexdigest()))
        _require(members == want_blobs[name], f"{name}: members differ from the oracle")


def expected_classify_counts(inputs: dict) -> dict:
    exp = expected_embargo(inputs, date_term=False)
    return {vis: len(rows) for vis, rows in exp.items()}


# ---------------------------------------------------------------------------
# publish_sync
# ---------------------------------------------------------------------------


def expected_publish(inputs: dict) -> dict:
    """Expected key sets by set arithmetic on the generated id ranges.

    P = public ids, Q = private ids, A = aged-out private ids (dated before
    the cutoff).  Publish gives the catalog P u A (public, A carrying the
    private etag) plus Q \\ A (private); sync is Q \\ (P u A); compare is
    P \\ Q (only_left) and Q \\ P (only_right).
    """
    p_lo, p_hi = inputs["public_ids"]
    q_lo, q_hi = inputs["private_ids"]
    total = q_hi
    ids = np.arange(total)
    in_p = ids < p_hi
    in_q = ids >= q_lo
    aged = in_q & ~inputs["bad_date"] & (inputs["days"] < inputs["cutoff_int"])
    keys = inputs["keys"]
    pub_etag = np.empty(total, dtype=object)
    pub_etag[p_lo:p_hi] = inputs["etags"]["public"].to_numpy(zero_copy_only=False)
    priv = inputs["etags"]["private"].to_numpy(zero_copy_only=False)
    pub_etag[aged] = priv[ids[aged] - q_lo]
    priv_etag = np.empty(total, dtype=object)
    priv_etag[q_lo:q_hi] = priv

    def table(mask: np.ndarray, etag: np.ndarray | None = None) -> pa.Table:
        cols = {"key": keys.filter(pa.array(mask))}
        if etag is not None:
            cols["etag"] = pa.array(etag[mask], pa.string())
        return _sorted(pa.table(cols))

    return {
        "public": table(in_p | aged, pub_etag),
        "private": table(in_q & ~aged, priv_etag),
        "sync": table(in_q & ~aged & ~in_p),
        "only_left": table(in_p & ~in_q),
        "only_right": table(in_q & ~in_p),
    }


def _sorted(t: pa.Table) -> pa.Table:
    return t.take(pc.sort_indices(t, sort_keys=[("key", "ascending")]))


def _same(expected: pa.Table, got: pa.Table, what: str) -> None:
    got = _sorted(got.select(expected.column_names))
    _require(
        got.num_rows == expected.num_rows,
        f"{what}: {got.num_rows} rows, oracle {expected.num_rows}",
    )
    for col in expected.column_names:
        _require(
            got.column(col).cast(pa.string()).equals(expected.column(col).cast(pa.string())),
            f"{what}: column {col} differs from the oracle",
        )


def check_publish(expected: dict, out_dir: str) -> None:
    cat = _read_dir(os.path.join(out_dir, "catalog"), ["key", "etag", "visibility"])
    vis = cat.column("visibility").cast(pa.string())
    for side in ("public", "private"):
        _same(expected[side], cat.filter(pc.equal(vis, side)), f"catalog {side}")
    _same(expected["sync"], _read_dir(os.path.join(out_dir, "sync"), ["key"]), "sync")
    diff = _read_dir(os.path.join(out_dir, "diff"), ["key", "side"])
    side = diff.column("side").cast(pa.string())
    for name in ("only_left", "only_right"):
        _same(expected[name], diff.filter(pc.equal(side, name)), f"compare {name}")


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def ids_digest(ids) -> str:
    return hashlib.sha256(np.sort(np.asarray(ids, dtype=np.int64)).tobytes()).hexdigest()


def check_corpus(inputs: dict, out_dir: str) -> str:
    """Structural oracle for the dedup outputs; returns the kept-corpus
    digest so callers can require it to repeat across jobs and runs.

    * prepared: each row is the lowest doc id of its exact-text group;
    * minhash pairs: every pair of identical texts is present, with
      Jaccard 1.0, and every pair is ordered ``doc_a < doc_b``;
    * kept corpus: no two kept docs share a text and no planted exact
      duplicate survives.
    """
    texts = inputs["texts"]
    first_of: dict[str, int] = {}
    groups: dict[str, list[int]] = defaultdict(list)
    for i, t in enumerate(texts):
        first_of.setdefault(t, i)
        groups[t].append(i)

    prepared = _read_dir(os.path.join(out_dir, "prepared"), ["doc_id"]).column("doc_id").to_pylist()
    _require(len(set(prepared)) == len(prepared), "prepared: duplicate doc ids")
    _require(
        all(first_of[texts[d]] == d for d in prepared),
        "prepared: a row is not the lowest id of its text group",
    )
    _require(
        len({texts[d] for d in prepared}) == len(prepared),
        "prepared: two rows share a text",
    )

    pairs = _read_dir(os.path.join(out_dir, "minhash_pairs"), ["doc_a", "doc_b", "jaccard"]).to_pydict()
    got_pairs = {}
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        _require(a < b, "minhash pairs: unordered pair")
        got_pairs[(a, b)] = j
    for members in groups.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                j = got_pairs.get((members[x], members[y]))
                _require(j == 1.0, f"minhash pairs: exact pair {members[x]},{members[y]} missing")

    kept = _read_dir(os.path.join(out_dir, "kept"), ["doc_id"]).column("doc_id").to_pylist()
    kept_texts = [texts[d] for d in kept]
    _require(len(set(kept)) == len(kept), "kept: duplicate doc ids")
    _require(len(set(kept_texts)) == len(kept), "kept: an exact duplicate survived")
    _require(not set(inputs["planted_exact"]) & set(kept), "kept: a planted duplicate survived")
    return ids_digest(kept)
