"""F3 — IPv6 normalization for sidestream's malformed filenames.

Sidestream writes ``::`` as ``:::`` inside filenames, so the reference routes
every extracted IP through m-lab/etl/web100's normalizer
(/root/reference/filename_parser.go:23-27; test case
/root/reference/filename_parser_test.go:22-24:
``2001:4c08:2003:3f:::230`` → ``2001:4c08:2003:3f::230``), counting errors in
a Prometheus counter.

This is the one scalar in the whole surface that needs Python (RFC 5952
canonicalization), so it is a vectorized Pandas UDF: Arrow moves string
batches, ``ipaddress`` canonicalizes per element, errors become nulls (the
relational analog of the reference's error counter — count nulls downstream).
IPv4 strings pass through untouched, as in the reference (its normalizer is
only applied to strings containing ':').
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def make_normalizer():
    """Build the F3 kernel: canonicalize one IP string, None on failure.

    The ``:::`` → ``::`` pre-repair mirrors the sidestream quirk; full
    canonicalization (leading zeros, longest-zero-run compression) comes from
    ``ipaddress.ip_address`` which implements RFC 5952.  ``""`` (F2's
    malformed-name result) and None both map to None.

    This is the package's only copy of the rule: the pandas UDF, the tar
    exploder and :func:`normalize_ipv6_py` all call it.  The kernel is
    nested (not a module-level function) so cloudpickle serializes it by
    value — executors never need this package importable (same policy as
    sources/tar_source.py).
    """
    import ipaddress as _ipaddress

    def normalize(value):
        if value is None or value == "":
            return None
        if ":" not in value:
            # IPv4 (or dotted garbage): the reference does not touch it.
            return value
        try:
            return str(_ipaddress.ip_address(value.replace(":::", "::")))
        except ValueError:
            return None

    return normalize


_normalize = make_normalizer()


def normalize_ipv6_py(value: str | None) -> str | None:
    """Pure-Python form of F3 (see :func:`make_normalizer`)."""
    return _normalize(value)


def normalize_ipv6(col: Column | str) -> Column:
    """Column form of F3: canonicalized IP, null when unparseable."""
    norm = make_normalizer()

    def _kernel(s):
        return s.map(norm)

    udf = F.pandas_udf(_kernel, StringType())
    return udf(F.col(col) if isinstance(col, str) else col)
