"""robots.txt + sitemap ingestion (SURVEY.md S4): real robots.txt text →
the engine's per-host gating table (host, disallow[], allow[],
crawl_delay), plus sitemap XML → depth-0 frontier discoveries.

The reference gates fetches with urllib.robotparser over live robots.txt
(north_star: "per-host politeness buckets with robots.txt gating"); in
this engine the fetched robots.txt bodies land as text files (one per
host, `<host>.txt`) and are parsed VECTORIZED — a pandas UDF over
whole-file rows — into the broadcastable dimension table the crawl loop
joins against. Grammar: User-agent groups, Disallow/Allow prefixes,
Crawl-delay, Sitemap. Group selection: the most specific matching group
wins ('*' fallback; one-way substring like robotparser). Path decision:
LONGEST matching prefix rule wins, Allow wins length ties, no match =
allowed (RFC 9309 §2.2.2) — implemented in core/web.robots_allowed for
the oracle and as a JVM expression (allowed_expr) for the engine.

Sitemaps: `Sitemap:` lines name XML files; load_sitemaps extracts
<loc> entries (whole-file rows → JVM regexp_extract_all, no Python
worker) into (host, url, pos) rows the engine enqueues as depth-0
discoveries after the seed list.
"""

from __future__ import annotations

import glob
import os
import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F, types as T


def parse_robots_txt(text: str, agent: str = "wcs-crawler") -> dict:
    """Parse one robots.txt body for `agent`. Returns
    {"disallow": [...], "allow": [...], "crawl_delay": float,
     "sitemaps": [urls...]}."""
    groups: list[tuple[list[str], list[str], list[str], float | None]] = []
    sitemaps: list[str] = []
    cur_agents: list[str] = []
    cur_dis: list[str] = []
    cur_allow: list[str] = []
    cur_delay: float | None = None
    in_group_body = False

    def flush():
        nonlocal cur_agents, cur_dis, cur_allow, cur_delay, in_group_body
        if cur_agents:
            groups.append((cur_agents, cur_dis, cur_allow, cur_delay))
        cur_agents, cur_dis, cur_allow, cur_delay = [], [], [], None
        in_group_body = False

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_group_body:
                flush()
            cur_agents.append(val.lower())
        elif key == "disallow":
            in_group_body = True
            if val:
                cur_dis.append(val)
        elif key == "allow":
            in_group_body = True
            if val:
                cur_allow.append(val)
        elif key == "crawl-delay":
            in_group_body = True
            try:
                cur_delay = float(val)
            except ValueError:
                pass
        elif key == "sitemap":
            # sitemap lines are global, not group-scoped (RFC 9309 §2.3);
            # use the comment-stripped, case-preserved val (a trailing
            # "# note" must not ride along into the URL)
            if val:
                sitemaps.append(val)
    flush()

    agent = agent.lower()
    best: tuple[int, list[str], list[str], float | None] | None = None
    for agents, dis, allow, delay in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif a in agent:  # one-way substring, mirroring robotparser
                score = len(a)
            else:
                continue
            if best is None or score > best[0]:
                best = (score, dis, allow, delay)
    if best is None:
        return {"disallow": [], "allow": [], "crawl_delay": 0.0, "sitemaps": sitemaps}
    return {"disallow": best[1], "allow": best[2],
            "crawl_delay": best[3] if best[3] is not None else 0.0,
            "sitemaps": sitemaps}


_OUT = T.StructType([
    T.StructField("disallow", T.ArrayType(T.StringType())),
    T.StructField("allow", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay", T.DoubleType()),
])


def load_robots_txt_dir(spark: SparkSession, txt_dir: str,
                        agent: str = "wcs-crawler") -> DataFrame:
    """<txt_dir>/<host>.txt files → DataFrame(host, disallow, allow,
    crawl_delay). Whole files as rows; parsing is an Arrow-batched pandas
    UDF (the per-host robots corpus at crawl scale is millions of small
    files — parsed where the data is, only the dimension table comes
    back)."""

    @F.pandas_udf(_OUT)
    def parse_udf(texts: pd.Series) -> pd.DataFrame:
        parsed = [parse_robots_txt(t or "", agent) for t in texts]
        return pd.DataFrame(parsed)[["disallow", "allow", "crawl_delay"]]

    # read the DIRECTORY with pathGlobFilter, not a '*.txt' glob path and
    # not an explicit path list: the glob path makes Spark's
    # FileStreamSink metadata probe log a java stack trace per read
    # (noise that pollutes bench tails), and an explicit list makes the
    # driver getFileStatus each path individually (measured 5.2s vs 0.7s
    # for 2000 files — one dir listing wins at millions-of-hosts scale)
    if not glob.glob(os.path.join(txt_dir, "*.txt")):
        return spark.createDataFrame(
            [], schema="host string, disallow array<string>, "
                       "allow array<string>, crawl_delay double")
    files = (
        spark.read.option("pathGlobFilter", "*.txt").text(txt_dir, wholetext=True)
        .withColumn("file", F.input_file_name())
        .withColumn("host", F.regexp_extract("file", r"([^/]+)\.txt$", 1))
    )
    return (
        files.withColumn("p", parse_udf("value"))
        .select("host", F.col("p.disallow").alias("disallow"),
                F.col("p.allow").alias("allow"),
                F.col("p.crawl_delay").alias("crawl_delay"))
    )


def allowed_expr(path_col: Column, disallow_col: Column, allow_col: Column) -> Column:
    """JVM-side longest-match Allow/Disallow decision — the exact twin
    of core/web.robots_allowed, in whole-stage-codegen expressions (no
    Python in the gating hot path)."""
    def best(arr: Column) -> Column:
        matched = F.filter(
            F.coalesce(arr, F.array().cast("array<string>")),
            lambda p: path_col.startswith(p) & (F.length(p) > 0),
        )
        return F.coalesce(F.array_max(F.transform(matched, F.length)), F.lit(-1))

    bd, ba = best(disallow_col), best(allow_col)
    return (bd == -1) | (ba >= bd)


# ------------------------------------------------------------- sitemaps

# one pattern for Python's re and Java's regex: whitespace is the XML
# class spelled out, since \s means Unicode whitespace in Python 3 but
# only ASCII whitespace in Java
_LOC_PATTERN = r"<loc>[ \t\r\n]*([^<]+?)[ \t\r\n]*</loc>"
_LOC_RE = re.compile(_LOC_PATTERN)


def parse_sitemap_xml(text: str) -> list[str]:
    """<urlset><url><loc>…</loc></url>…</urlset> → URL list in file
    order (position is part of the enqueue-order contract). The oracle's
    parser; load_sitemaps applies the same pattern JVM-side."""
    return _LOC_RE.findall(text or "")


def sitemap_locs(text_col) -> Column:
    """JVM twin of parse_sitemap_xml: the <loc> entries of a sitemap
    body column as array<string>, in file order."""
    return F.regexp_extract_all(text_col, F.lit(_LOC_PATTERN), 1)


def load_sitemaps(spark: SparkSession, xml_dir: str) -> DataFrame:
    """<xml_dir>/<host>.xml files → DataFrame(host, url, pos): the
    depth-0 frontier feed (SURVEY.md S4 "sitemap URLs feed frontier").
    Whole files as rows, <loc> entries extracted by the JVM with
    parse_sitemap_xml's pattern; pos preserves in-file order for
    deterministic enqueue sequencing."""

    if not glob.glob(os.path.join(xml_dir, "*.xml")):  # see load_robots_txt_dir
        return spark.createDataFrame([], schema="host string, url string, pos int")
    files = (
        spark.read.option("pathGlobFilter", "*.xml").text(xml_dir, wholetext=True)
        .withColumn("file", F.input_file_name())
        .withColumn("host", F.regexp_extract("file", r"([^/]+)\.xml$", 1))
    )
    return (
        files.select("host", F.posexplode(sitemap_locs("value")).alias("pos", "url"))
        .select("host", "url", "pos")
    )
