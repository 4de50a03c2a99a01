"""URL canonicalization, hashing and host bucketing (SURVEY.md §2.2 P1-P3).

Reference parity: csxj-crawler compared raw URL strings after urlparse-level
cleanup when diffing fresh TOCs against the stored per-provider URL set
(SURVEY.md §2.2 P1, [M csxj/common/tagging.py]).  The exact rule is locked in
``spec``.

One implementation: :func:`canonicalize_expr`, a JVM-side Column expression
(whole-stage-codegen friendly, never leaves the JVM).  :func:`host_of` and
:func:`path_of` read the same grammar off its output.  All three are tested
against the independent urllib-based reference ``simulator.canon_py`` in
tests/test_urls.py.

Hashing is always ``xxhash64`` (built-in, deterministic across sessions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from csxj_crawler_spark import spec

# tracking params: exact names or utm_* prefix, as key=value pairs
_TRACK_ALT = "|".join(sorted(spec.TRACKING_PARAMS)) + "|utm_[a-z0-9_]*"
# a tracking pair inside a query string (value = anything up to & or end)
_TRACK_PAIR = rf"(?:{_TRACK_ALT})=[^&#]*"
# what the reference strips before parsing: ``str.strip()`` (every
# ``str.isspace()`` char), then urlsplit's C0-or-space lstrip and its removal
# of tab, CR and LF anywhere in the URL
_ISSPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_C0_OR_SPACE = "".join(chr(c) for c in range(0x21))
# an optional scheme as urlsplit finds it; an authority follows after //
# and ends at / ? or #
_SCHEME = r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?"


def canonicalize_expr(col: Column) -> Column:
    """The P1 canonical rule as a JVM-side Column expression."""
    c = F.trim(col, F.lit(_ISSPACE))
    c = F.translate(F.ltrim(c, F.lit(_C0_OR_SPACE)), "\t\r\n", "")
    # strip fragment
    c = F.regexp_replace(c, r"(?s)#.*$", "")
    # lowercase scheme://host prefix. Spark regexp_replace cannot lowercase a
    # backreference, so split: head = scheme://authority, tail = rest.
    head = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    tail = F.substring(c, F.length(head) + F.lit(1), F.lit(1 << 30))
    c = F.concat(F.lower(head), tail)
    # strip default ports
    c = F.regexp_replace(c, r"^(http://[^/?#:]*):80(?=[/?#]|$)", "$1")
    c = F.regexp_replace(c, r"^(https://[^/?#:]*):443(?=[/?#]|$)", "$1")
    # drop tracking params: runs of pairs that start at a key boundary, then
    # a last pair before the end or the next pair
    c = F.regexp_replace(c, rf"(?<=[?&])(?:{_TRACK_PAIR}&)+", "")
    c = F.regexp_replace(c, rf"[?&](?:{_TRACK_PAIR})(?=$|&)", "")
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"[?&]$", "")
    # empty path → "/"
    c = F.regexp_replace(c, r"^([a-z][a-z0-9+.-]*://[^/?#]+)(\?|$)", "$1/$2")
    # trailing slash at end of non-root path (also before a query)
    c = F.regexp_replace(c, r"^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*?)/+(\?|$)", "$1$2")
    return c


def url_hash(col: Column) -> Column:
    """64-bit stable seen-set key (P2)."""
    return F.xxhash64(col)


def host_of(col: Column) -> Column:
    """Host (P3): the authority after its last ``@`` and before any
    ``:port``, lowercased; "" where there is no authority.  Never raises."""
    return F.lower(F.regexp_extract(col, _SCHEME + r"//(?:[^/?#]*@)?([^/?#:@]*)", 1))


def path_of(col: Column) -> Column:
    """Path: what follows the authority up to ``?``/``#``, ``/`` when empty."""
    path = F.regexp_extract(col, _SCHEME + r"(?://[^/?#]*)?([^?#]*)", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def host_bucket(host: Column, n_buckets: int = spec.DEFAULT_HOST_BUCKETS) -> Column:
    """Stable host partition bucket (P3) — frontier partitioning key."""
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


def url_salt(col: Column, n_salt: int = spec.DEFAULT_SALT) -> Column:
    """Per-URL salt for skewed-host fan-out (J4)."""
    return F.pmod(F.xxhash64(col), F.lit(n_salt)).cast("int")
