"""Property tests (hypothesis, derandomized): canonicalization is
idempotent, noise-invariant, and structurally sound on arbitrary URLs."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from web_crawler_spark.core.urls import (
    canonicalize_series, host_of_series, path_of_series,
)
from web_crawler_spark.functions.udfs import url_parts_udf

SETTINGS = dict(max_examples=200, derandomize=True, deadline=None)

host_st = st.from_regex(r"[a-z][a-z0-9-]{0,10}(\.[a-z]{2,7}){1,2}", fullmatch=True)
seg_st = st.from_regex(r"[A-Za-z0-9._~-]{1,8}", fullmatch=True)
path_st = st.lists(seg_st, min_size=0, max_size=5).map(lambda xs: "/" + "/".join(xs))
query_st = st.lists(
    st.tuples(st.from_regex(r"[a-z]{1,6}", fullmatch=True),
              st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)),
    min_size=0, max_size=4,
).map(lambda kv: "&".join(f"{k}={v}" for k, v in kv))
url_st = st.builds(
    lambda sch, h, p, q, frag: f"{sch}://{h}{p}" + (f"?{q}" if q else "") + (f"#{frag}" if frag else ""),
    st.sampled_from(["http", "https", "HTTP", "Https"]),
    host_st, path_st, query_st,
    st.from_regex(r"[A-Za-z0-9]{0,5}", fullmatch=True),
)


@given(url=url_st)
@settings(**SETTINGS)
def test_idempotent(url):
    once = canonicalize_series(pd.Series([url])).iloc[0]
    twice = canonicalize_series(pd.Series([once])).iloc[0]
    assert once == twice


@given(url=url_st)
@settings(**SETTINGS)
def test_structure_preserved(url):
    c = canonicalize_series(pd.Series([url])).iloc[0]
    assert c.startswith(("http://", "https://"))
    assert "#" not in c
    host = host_of_series(pd.Series([c])).iloc[0]
    path = path_of_series(pd.Series([c])).iloc[0]
    assert host and host == host.lower()
    assert path.startswith("/")


@given(url=url_st, data=st.data())
@settings(**SETTINGS)
def test_noise_variants_collapse(url, data):
    """Case/port/fragment/tracking-param/dot-segment noise must map to
    the same canonical URL (the seen-set equivalence classes)."""
    c = canonicalize_series(pd.Series([url])).iloc[0]
    scheme, rest = c.split("://", 1)
    host, slash, tail = rest.partition("/")
    port = ":80" if scheme == "http" else ":443"
    q_join = "&" if "?" in c else "?"
    variants = [
        f"{scheme.upper()}://{host.upper()}{port}{slash}{tail}",
        c + "#fragment",
        c + f"{q_join}utm_source=x&fbclid=y",
        f"{scheme}://{host}/.{slash}{tail}" if tail else c,
    ]
    v = data.draw(st.sampled_from(variants))
    assert canonicalize_series(pd.Series([v])).iloc[0] == c


@given(urls=st.lists(url_st, min_size=1, max_size=20))
@settings(max_examples=50, derandomize=True, deadline=None)
def test_series_equals_rowwise(urls):
    """Vectorized batch result == one-row-at-a-time results (the pandas
    UDF batching boundary must not change values)."""
    batch = list(canonicalize_series(pd.Series(urls)))
    single = [canonicalize_series(pd.Series([u])).iloc[0] for u in urls]
    assert batch == single


@given(urls=st.lists(url_st, min_size=1, max_size=20))
@settings(max_examples=50, derandomize=True, deadline=None)
def test_url_parts_udf_equals_series(urls):
    """The fused struct UDF == the three series functions it fuses
    (canonicalize, then host and path of the canonical URL)."""
    s = pd.Series(urls)
    parts = url_parts_udf.func(s)
    canon = canonicalize_series(s)
    assert list(parts.columns) == ["canon_url", "host", "path"]
    assert list(parts["canon_url"]) == list(canon)
    assert list(parts["host"]) == list(host_of_series(canon))
    assert list(parts["path"]) == list(path_of_series(canon))
