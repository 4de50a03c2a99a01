"""P1-P3: the engine's canonicalizer (``canonicalize_expr``) and the host and
path it yields match the independent urllib-based reference, canonical URLs
are fixed points, and hashing/bucketing properties hold."""

from __future__ import annotations

import random
from urllib.parse import urlsplit

import pyarrow.parquet as pq

from csxj_crawler_spark import spec
from csxj_crawler_spark.fixtures import simulator
from csxj_crawler_spark.fixtures.simulator import canon_py
from csxj_crawler_spark.functions import urls as U

ISSPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
C0_OR_SPACE = [chr(c) for c in range(0x21)]


def _fixture_urls(fix_dir):
    urls = []
    for r in pq.read_table(f"{fix_dir}/seeds.parquet").to_pylist():
        urls.append(r["url"])
    for page in pq.read_table(f"{fix_dir}/web_graph.parquet").to_pylist():
        for l in page["outlinks"] or []:
            urls.append(l["url"])
    return urls


def test_expr_matches_python_reference(spark, fix_dir):
    from pyspark.sql import functions as F

    urls = _fixture_urls(fix_dir)[:500]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(U.canonicalize_expr(F.col("url"))).collect()]
    want = [canon_py(u) for u in urls]
    assert got == want


_KEYS = [
    "page", "id", "q", "end", "m_y", "pref", "href", "xref", "myutm_a",
    "ututm_a", "utm_source", "utm_x", "utm_", *sorted(spec.TRACKING_PARAMS),
]


def _fuzz_urls(n: int, seed: int = 14) -> list[str]:
    """``n`` seeded URL-shaped strings: mixed-case scheme and host, default
    and non-default ports, paths with space, ``|``, ``"`` and ``%``, queries
    mixing tracking keys with keys that merely contain or end in a tracking
    name, fragments, whitespace/C0 padding and an embedded tab/CR/LF."""
    rng = random.Random(seed)

    def word(alphabet, lo, hi):
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))

    out = []
    for _ in range(n):
        url = rng.choice(["http", "HTTP", "https", "HtTpS", "Http"]) + "://"
        url += rng.choice(["lesoir-0.example", "A-B.Example", "x.org", "WWW.Dh.BE"])
        url += rng.choice(["", ":80", ":443", ":8080"])
        url += "".join("/" + word('abZ09._-~ |"%', 0, 5) for _ in range(rng.randint(0, 3)))
        if rng.random() < 0.2:
            url += "/" * rng.randint(1, 2)
        if rng.random() < 0.7:
            pairs = [
                f"{rng.choice(_KEYS)}={word('ab12_ |', 0, 3)}"
                for _ in range(rng.randint(0, 5))
            ]
            url += "?" + "&".join(pairs)
        url += rng.choice(["", "", "#x", "#a-b", "#f?utm_a=1&x=2"])
        if rng.random() < 0.3:
            at = rng.randint(0, len(url))
            url = url[:at] + rng.choice("\t\r\n") + url[at:]
        if rng.random() < 0.3:
            url = word(rng.choice([ISSPACE, C0_OR_SPACE]), 1, 3) + url
        if rng.random() < 0.3:
            url += word(ISSPACE, 1, 3)
        out.append(url)
    return out


def test_engine_urls_match_reference_batched(spark):
    """≥10k inputs through ONE Spark job: canonical URL, host and path equal
    the reference's (``canon_py``, ``simulator._host_of``, urlsplit's path).
    Canonicalizing twice equals the reference twice, which is the canonical
    URL itself unless that begins or ends in characters the reference strips
    (a query value ending in a space, a leading U+00A0 behind C0 padding)."""
    from pyspark.sql import functions as F

    urls = _fuzz_urls(12_000)
    # the old splice cases: 4a's removals must not splice a key's tail onto
    # the next pair into a new tracking pair
    urls += [
        "http://h/?ututm_a=1&m_y=1&ututm_b=2&m_w=3&end=1",
        "http://h/?ututm_a=1&m_b=2&ututm_c=3&m_d=4&end=1",
        "http://h/?utm_a=1&utm_b=2&utm_c=3",
        "http://h/?x=1&utm_a=1&utm_b=2&utm_c=3&y=2",
        "http://h/?a=but&m_x=3&end=1",
        "http://h/?pref=1&page=2",
        "http://h/?href=1&q=2",
    ]
    # every str.isspace() char, leading, trailing, inside the path and
    # inside the fragment
    urls += [
        f"{ws}http://H.example/a{ws}b/?utm_a=1&page=2#f{ws}g{ws}" for ws in ISSPACE
    ]
    canon = U.canonicalize_expr(F.col("url"))
    rows = (
        spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, url string")
        .select("i", canon.alias("c"))
        .select(
            "i", "c",
            U.canonicalize_expr(F.col("c")).alias("cc"),
            U.host_of(F.col("c")).alias("host"),
            U.path_of(F.col("c")).alias("path"),
        )
        .collect()
    )
    assert len(rows) == len(urls)
    bad = []
    for r in rows:
        want = canon_py(urls[r["i"]])
        got = (r["c"], r["cc"], r["host"], r["path"])
        exp = (want, canon_py(want), simulator._host_of(want), urlsplit(want).path or "/")
        if got != exp or (want == want.strip() and r["cc"] != want):
            bad.append((urls[r["i"]], got, exp))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"
    assert canon_py("http://h/?pref=1&page=2") == "http://h/?pref=1&page=2"


def test_host_bucket_stable_and_bounded(spark, fix_dir):
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{fix_dir}/seeds.parquet").select(
        U.canonicalize_expr(F.col("url")).alias("url")
    )
    out = df.select(
        U.host_of(F.col("url")).alias("host"),
        U.host_bucket(U.host_of(F.col("url")), 8).alias("b"),
        U.url_hash(F.col("url")).alias("h"),
    ).collect()
    assert all(0 <= r["b"] < 8 for r in out)
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], set()).add(r["b"])
    assert all(len(v) == 1 for v in by_host.values())
