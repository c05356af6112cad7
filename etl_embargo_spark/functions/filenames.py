"""Filename-grammar and date scalar functions (SURVEY.md §2.6 F1-F11).

The reference's schemas live in filename grammars rather than a catalog:
archive names ``YYYYMMDDTHHMMSSZ-<machine>-<site>-sidestream-<seq>.tgz``
(/root/reference/embargo.go:227) and inner test names
``YYYYMMDDTHH:MM:SSZ_<localIP>_<seq>.web100``
(/root/reference/embargo_check.go:102, filename_parser.go:2).  Each grammar
rule becomes a derived-column expression here — pure built-ins, so Catalyst
constant-folds and codegens them; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def filename_date(name: Column | str) -> Column:
    """F1 — first 8 chars of a filename as the yyyymmdd date string.

    Reference: ``GetDate`` /root/reference/filename_parser.go:31-33.
    """
    return F.substring(F.col(name) if isinstance(name, str) else name, 1, 8)


def filename_local_ip(name: Column | str) -> Column:
    """F2 — the substring strictly between the FIRST and LAST underscore.

    Returns the empty string when the grammar does not hold (fewer than two
    underscores, or first/last coincide) — the reference's guard at
    /root/reference/filename_parser.go:20-22 (``start >= end`` → ``""``),
    e.g. ``20170225T23:00:00Z_ALL0.web100`` → ``""``.

    Implemented as one regexp_extract (anchored, greedy middle) so the whole
    expression stays in codegen; ``regexp_extract`` returns ``""`` on no
    match, which is exactly the reference's malformed-name behavior.  The
    ``(?s)`` flag lets the middle cross line terminators, as Go's
    ``strings.Index`` slicing does.
    """
    col = F.col(name) if isinstance(name, str) else name
    return F.regexp_extract(col, r"(?s)^[^_]*_(.*)_[^_]*$", 1)


def make_local_ip_parser():
    """Build the Python form of F2 for executor code that already holds the
    name in Python (the tar exploder): the same first/last-underscore rule
    as :func:`filename_local_ip`, ``""`` when malformed.  Nested so
    cloudpickle ships it by value (see sources/tar_source.py)."""

    def local_ip(name):
        start = name.find("_") + 1
        end = name.rfind("_")
        return name[start:end] if start < end else ""

    return local_ip


def basename(path: Column | str) -> Column:
    """F4 — last path component, ``filepath.Base`` analog.

    Reference: /root/reference/embargo.go:161, embargo.go:306.
    """
    col = F.col(path) if isinstance(path, str) else path
    return F.element_at(F.split(col, "/"), -1)


def date_as_int(ts: Column | str) -> Column:
    """F5 — ``Year*10000 + Month*100 + Day`` as an int.

    Reference: ``FormatDateAsInt`` /root/reference/embargo_check.go:24-26.
    """
    col = F.col(ts) if isinstance(ts, str) else ts
    return (F.year(col) * 10000 + F.month(col) * 100 + F.dayofmonth(col)).cast("int")


def parse_date_int(date_str: Column | str) -> Column:
    """F9 — ``strconv.Atoi(name[0:8])`` analog: 8-char prefix → int, null
    unless all 8 characters are ASCII digits (the reference's error path
    skips the file).

    Reference: /root/reference/embargo.go:272-276, embargo.go:307-311.

    Deviation (deliberate): Go's ``Atoi`` accepts a sign, so ``+2017010``
    and ``-1234567`` parse there, and Spark's cast to int also trims a
    space-padded prefix.  Each such value lies below any cutoff, so the
    archive would count as old and every entry would be published.  Here
    they are null like any other non-digit prefix: the archive is
    undated and the date term drops out of the three-term rule.  The cast
    of eight ASCII digits cannot fail, so it cannot abort the job under
    ANSI mode.
    """
    col = F.col(date_str) if isinstance(date_str, str) else date_str
    d8 = F.substring(col, 1, 8)
    return F.when(d8.rlike("^[0-9]{8}$"), d8.cast("int"))


def embargo_rename(name: Column | str) -> Column:
    """F6 — rewrite ``.tgz`` → ``-e.tgz`` for the embargoed output object.

    Reference: ``strings.Replace(name, ".tgz", "-e.tgz", -1)``
    /root/reference/embargo.go:105 (replaces all occurrences; in practice the
    suffix — implemented as an anchored suffix rewrite, documented deviation).
    """
    col = F.col(name) if isinstance(name, str) else name
    return F.regexp_replace(col, r"\.tgz$", "-e.tgz")


def date_path(date_str: Column | str, prefix: str = "sidestream") -> Column:
    """F7 — ``"sidestream/" + d[0:4] + "/" + d[4:6] + "/" + d[6:8]``.

    Reference: /root/reference/embargo.go:266, unembargo.go:160.
    """
    col = F.col(date_str) if isinstance(date_str, str) else date_str
    return F.concat_ws(
        "/",
        F.lit(prefix),
        F.substring(col, 1, 4),
        F.substring(col, 5, 2),
        F.substring(col, 7, 2),
    )


def one_year_before(ts: Column | str) -> Column:
    """F8 — ``t.AddDate(-1, 0, 0)`` analog: the one-year-embargo cutoff date.

    Reference: /root/reference/embargo.go:313, unembargo.go:158.  Month
    arithmetic with end-of-month clamping (Feb 29 → Feb 28), matching Go's
    AddDate normalization on the dates that occur in practice.
    """
    col = F.col(ts) if isinstance(ts, str) else ts
    return F.add_months(F.to_date(col), -12)


def url_filename_decode(b64: Column | str) -> Column:
    """F11 — URL-safe base64 ``?file=`` param → ``gs://bucket/path`` string.

    Reference: deploy/deploy.go:32-42 (external m-lab/etl/storage decode +
    path surgery).  Bucket/path split is plain string surgery on the result.
    """
    col = F.col(b64) if isinstance(b64, str) else b64
    # URL-safe alphabet → standard alphabet, then unbase64.
    std = F.translate(col, "-_", "+/")
    return F.unbase64(std).cast("string")
