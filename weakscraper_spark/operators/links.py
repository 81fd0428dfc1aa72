"""Link-graph extraction and host ranking for crawl prioritization:
``<a href>`` outlinks parsed from raw HTML → a weighted host→host
edge list → PageRank (Page, Brin, Motwani & Winograd, 1999 — the
standard crawl-frontier/host-quality prior) plus anchor-text
aggregation (the classic relevance signal: what OTHER pages call a
target).

Scale shapes (the 100-TB rules this repo holds every operator to):
- ``extract_links`` is a NARROW map: regexp scan + explode, all JVM
  built-ins (regexp_extract_all / transform / filter) — the corpus-
  width html column never shuffles, and the output rows are slim
  (src, dst, anchor). No Python in the path.
- ``host_graph`` is a two-phase hash aggregation on (src_host,
  dst_host) — map-side combine absorbs per-page link repetition
  before the shuffle, which carries one row per (partition, host
  pair). Host-pair cardinality ≪ link cardinality on real crawls.
- ``pagerank`` is iterative: per round ONE equi-join of the rank
  vector with the edge list on ``src`` + ONE groupBy(dst) sum —
  both shuffle on the same key, so a pre-partitioned/bucketed edge
  table reuses its exchange across every round. The dangling-mass
  scalar and the (1-d)/N teleport ride a broadcast one-row
  DataFrame (no per-round driver collect); lineage is truncated
  through the shared ``iterstate.ckpt`` discipline like
  connected_components. Rank sums are doubles —
  callers snap to fixed scale for value comparison (the repo's
  ``_dec`` rule).

The href resolution rules (absolute, protocol-relative,
root-relative, path-relative, and the javascript:/mailto:/fragment
rejects) are pure column expressions, so the generator-side staged
truth can value-check extraction end-to-end and the DuckDB oracle
can replay host_graph + k unrolled PageRank iterations exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .iterstate import ckpt as _ckpt

#: schemes/pseudo-links that are never fetchable content
_REJECT_RE = r"(?i)^(javascript:|mailto:|tel:|data:|#|$)"

#: monotone suffix for pagerank's per-call temp-view names (two
#: concurrent pagerank builds in one session must not share views)
_PR_SEQ = 0

#: one <a ...>anchor</a> element — case-insensitive (crawl HTML mixes
#: <A HREF>), href double-quoted / single-quoted / bare, DOTALL so
#: anchors spanning newlines survive
#: ``href`` must start an ATTRIBUTE (follow the tag name or
#: whitespace): the earlier greedy ``[^>]*href=`` form also matched
#: the suffix of data-href/ng-href and, via backtracking, preferred
#: the LAST such occurrence — lazy-load markup hijacked the real url
#: (r05 review). The lazy optional prefix picks the FIRST
#: whitespace-anchored href, as browsers do.
_A_RE = (r'(?is)<a\s(?:[^>]*?\s)??href\s*=\s*'
         r'("[^"]*"|\'[^\']*\'|[^\s>]+)[^>]*>(.*?)</a>')

#: the page's <base href> (WHATWG: the FIRST base element with an
#: href wins; applies to every relative reference on the page)
_BASE_RE = (r'(?is)<base\s(?:[^>]*?\s)??href\s*=\s*'
            r'("[^"]*"|\'[^\']*\'|[^\s>]+)')


def _host(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^[^:/?#]+://([^/?#:]*)", 1))


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))


def attr_value(tag: Column, name: str) -> Column:
    """The value of attribute ``name`` within ONE tag string —
    whitespace-anchored exactly like the tag-level regexes (r06
    review: a bare ``name=`` substring match let ``data-href=`` /
    ``x-content=`` shadow the real attribute, and a quoted value
    containing ``name='...'`` fabricate one), trimmed, quoted or
    bare. Empty/missing → ''."""
    pat = (r'(?is)^<\w+\s(?:[^>]*?\s)??' + name +
           r'\s*=\s*("[^"]*"|\'[^\']*\'|[^\s>]+)')
    raw = F.regexp_extract(tag, pat, 1)
    return F.trim(F.regexp_replace(raw, r"^['\"]|['\"]$", ""))


def page_base(html: Column, url: Column) -> Column:
    """The page's resolution base: the first ``<base href>`` —
    entity-decoded (attributes must escape ``&``), itself resolved
    against the page url (a relative base href is legal per WHATWG)
    — else the page url. The ONE implementation all href-resolving
    operators share (r06 review: links/feeds/metadata each carried a
    drifting copy)."""
    from .sitemap import decode_predefined_entities

    base_raw = F.regexp_extract(html, _BASE_RE, 1)
    base_raw = decode_predefined_entities(
        F.trim(F.regexp_replace(base_raw, r"^['\"]|['\"]$", "")))
    return F.when(base_raw == "", url) \
        .otherwise(resolve_href(url, base_raw))


def resolve_href(base_url: Column, href: Column) -> Column:
    """RFC 3986-style reference resolution as a pure column
    expression (the subset real crawl corpora need): absolute kept,
    ``//host/..`` gets the base scheme, ``/path`` joins the base
    origin, anything else joins the base URL's directory. Query
    strings and fragments on the BASE never leak into the join
    (dirname is computed on the path only)."""
    origin = F.concat(_scheme(base_url), F.lit("://"),
                      F.regexp_extract(base_url, r"^[^:/?#]+://([^/?#]*)", 1))
    # base path directory: strip query/fragment, then the last segment
    path = F.regexp_extract(base_url, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    dirn = F.regexp_replace(path, r"[^/]*$", "")
    dirn = F.when(dirn == "", F.lit("/")).otherwise(dirn)
    return (
        F.when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), href)
        .when(href.startswith("//"),
              F.concat(_scheme(base_url), F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(origin, dirn, href))
    )


def extract_links(df: DataFrame, html_col: str = "html",
                  url_col: str = "url",
                  id_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages → one row per outlink: (``id_cols``…, src_url, dst_url,
    anchor). Narrow map — regexp scan over the html column, explode,
    resolve, filter; nothing leaves the JVM and nothing shuffles.
    ``html_col`` may be string or utf-8 binary (pages tables carry
    binary). A page-level ``<base href>`` (first one wins, WHATWG
    rule) re-bases every relative reference on that page."""
    html = F.col(html_col)
    if dict(df.dtypes)[html_col] == "binary":
        html = html.cast("string")
    # the page-level resolution base (shared helper): computed ONCE
    # per page, before the explode fans out to per-link rows
    base = page_base(html, F.col(url_col))
    # materialize the <a> snippets as a column BEFORE the per-snippet
    # lambdas: Catalyst does not CSE inside transform() lambdas, so
    # extracting href and anchor from the raw page inside the lambda
    # would re-scan the corpus-width html once per field (the
    # dedup._shingles rule)
    snips = df.select(
        *id_cols, F.col(url_col).alias("src_url"),
        base.alias("_base"),
        F.explode(F.regexp_extract_all(html, F.lit(_A_RE), 0))
        .alias("_a"))
    href = F.regexp_extract("_a", _A_RE, 1)
    href = F.trim(F.regexp_replace(href, r"^['\"]|['\"]$", ""))
    anchor = F.trim(F.regexp_replace(
        F.regexp_extract("_a", _A_RE, 2), r"<[^>]*>", " "))
    anchor = F.trim(F.regexp_replace(anchor, r"\s+", " "))
    return (snips
            .withColumn("_href", href)
            .filter(~F.col("_href").rlike(_REJECT_RE))
            .select(*id_cols, "src_url",
                    resolve_href(F.col("_base"),
                                 F.col("_href")).alias("dst_url"),
                    anchor.alias("anchor")))


def host_graph(links: DataFrame, drop_self: bool = True) -> DataFrame:
    """Outlink rows → weighted host edge list (src_host, dst_host,
    weight). Two-phase hash agg; ``drop_self`` removes intra-host
    edges (navigation chrome), the usual choice for ranking."""
    e = links.select(_host(F.col("src_url")).alias("src_host"),
                     _host(F.col("dst_url")).alias("dst_host"))
    e = e.filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return (e.groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("weight")))


def pagerank(edges: DataFrame, src: str = "src_host",
             dst: str = "dst_host", weight: str = "weight",
             damping: float = 0.85, iters: int = 10,
             checkpoint_dir: str | None = None) -> DataFrame:
    """Weighted PageRank over an edge list, ``iters`` fixed power
    iterations (fixed count, not a convergence test, so the DuckDB
    twin can unroll the exact same k levels): (node, rank).

    rank_{t+1}(v) = (1-d)/N + d·(Σ_{u→v} rank_t(u)·w(u,v)/outw(u)
                                 + dangling_t/N)
    where dangling_t = Σ rank_t(u) over nodes with no outlinks —
    the standard mass-conserving treatment (Σ rank = 1 every round).

    Per round: one join on ``src`` + one groupBy(``dst``) — the only
    corpus-width shuffles, both on the node key. The dangling mass
    is a filter+sum over the CHECKPOINTED rank vector (a ``_has``
    outlink flag rides each rank row, stamped once up front), and N
    and the per-round dangling scalar fold into the rank expression
    as literals — the r07 form re-derived both through a per-round
    anti-join plus two broadcast-exchange subqueries, which at bench
    scale was ~4 extra scheduled jobs per round (measured r08:
    host_rank 13.6 → ~5 s; the per-node arithmetic tree and the
    scalar divisions are IEEE-identical, only the plumbing of the
    scalars changed).
    """
    # materialize the SLIM edge list first: outw/en/nodes each scan
    # ``e``, and for a composed edge list (host_graph over
    # extract_links) every scan re-runs the corpus-width regexp
    # extraction — measured r08: three ~1.2 s full link-extraction
    # stages per pagerank call before this truncation, one after.
    e = _ckpt(edges.select(F.col(src).alias("src"),
                           F.col(dst).alias("dst"),
                           F.col(weight).cast("double").alias("w")),
              checkpoint_dir)
    # EVERYTHING downstream of the materialized edge list — the
    # outw/en/nodes derivations AND the power iterations — plans
    # STATICALLY (iterstate.static_loop, r08): these are node- and
    # edge-count-sized relations of fixed shape, and under AQE every
    # exchange in them materialized as its own scheduler job with a
    # 20-90 ms driver re-planning gap (~8 jobs per round, plus a
    # 12-job setup chain). Statically each checkpoint/action is ONE
    # job and the per-round lazy checkpoint cascades into the round's
    # dmass read. Partition count comes from the AQE-materialized
    # edge checkpoint — data-derived, so a 100 TB graph keeps its
    # hundreds of partitions while sandbox graphs run 1-task rounds.
    from .iterstate import static_loop
    spark = edges.sparkSession
    with static_loop(spark, e.rdd.getNumPartitions()):
        nodes = (e.select(F.col("src").alias("node"))
                 .union(e.select("dst")).distinct())
        # outw/en/nodes are all re-read EVERY round (contrib join,
        # rank rebuild) → truncate each ONCE up front, or every
        # iteration re-runs the whole upstream plan.
        outw = _ckpt(e.groupBy("src").agg(F.sum("w").alias("outw")),
                     checkpoint_dir)
        # normalized edge weight: contribution fraction u→v
        en = (e.join(outw, "src")
              .select("src", "dst",
                      (F.col("w") / F.col("outw")).alias("p")))
        en = _ckpt(en, checkpoint_dir)
        has_out = outw.select(F.col("src").alias("node"),
                              F.lit(True).alias("_has"))
        nodes = _ckpt(nodes.join(has_out, "node", "left")
                      .select("node", F.coalesce("_has", F.lit(False))
                              .alias("_has")),
                      checkpoint_dir)
        n = nodes.count()  # driver scalar, collected once
        if n == 0:
            # empty edge list → empty rank vector with the right
            # schema (the broadcast form divided by a 0-row relation
            # and was vacuously empty; Python scalars need the guard)
            return nodes.select("node", F.lit(0.0).alias("rank"))
        ranks = nodes.select("node", "_has",
                             F.lit(1.0 / n).alias("rank"))
        # round bodies go through TWO spark.sql calls over temp views
        # instead of ~60 per-Column py4j round trips (measured r08:
        # plan CONSTRUCTION alone was ~77 ms/round — comparable to
        # the round's entire job wall; the _lit_doubles lesson
        # applied to a loop). CAST('<repr>' AS DOUBLE) literals are
        # value-exact (shortest repr + Java parseDouble), so the
        # arithmetic tree is the same IEEE expression the Column
        # form built.
        global _PR_SEQ
        _PR_SEQ += 1
        rv, ev = f"pr_ranks_{_PR_SEQ}", f"pr_en_{_PR_SEQ}"
        en.createOrReplaceTempView(ev)
        teleport = f"CAST('{(1.0 - damping) / n!r}' AS DOUBLE)"
        d_lit = f"CAST('{damping!r}' AS DOUBLE)"
        for _ in range(iters):
            # EVERY round: ranks_t feeds BOTH the dangling scalar and
            # the contribution join, so without per-round truncation
            # ranks_t+1 holds TWO copies of ranks_t's lineage → 2^k
            # plan blowup. Per-round checkpoint (the GraphX/Pregel
            # discipline) keeps each round's plan one join deep.
            # lazy: the dmass action right below scans the full rank
            # vector and materializes the checkpoint as a side effect
            # — no dedicated materialization job per round
            ranks = _ckpt(ranks, checkpoint_dir, eager=False)
            ranks.createOrReplaceTempView(rv)
            dmass = spark.sql(
                f"SELECT COALESCE(SUM(rank), CAST('0.0' AS DOUBLE)) "
                f"FROM {rv} WHERE NOT _has").first()[0]
            ranks = spark.sql(
                f"SELECT r.node, r._has, "
                f"{teleport} + {d_lit} * "
                f"(COALESCE(c.c, CAST('0.0' AS DOUBLE)) + "
                f"CAST('{dmass / n!r}' AS DOUBLE)) AS rank "
                f"FROM {rv} r LEFT JOIN ("
                f"SELECT e.dst AS dst, SUM(r2.rank * e.p) AS c "
                f"FROM {rv} r2 JOIN {ev} e ON r2.node = e.src "
                f"GROUP BY e.dst) c ON r.node = c.dst")
        # materialize the final round inside the static scope too —
        # otherwise the caller's action re-plans it adaptively and
        # pays the per-exchange job fan-out one more time
        ranks = _ckpt(ranks, checkpoint_dir)
    spark.catalog.dropTempView(rv)
    spark.catalog.dropTempView(ev)
    return ranks.select("node", "rank")


def pagerank_sql(edges_rel: str, damping: float = 0.85,
                 iters: int = 10, src: str = "src_host",
                 dst: str = "dst_host", weight: str = "weight") -> str:
    """The DuckDB twin: the SAME fixed-iteration recurrence with the
    k levels unrolled as chained CTEs (recursive-CTE grouping rules
    differ across engines; unrolling is engine-proof and keeps the
    twin independent of the Spark implementation). Returns a SELECT
    yielding (node, rank). ``edges_rel`` is any relation expression
    (table name or parenthesized subquery)."""
    d = damping
    # AS MATERIALIZED on every level: each r{i} is referenced by
    # BOTH d{i} and c{i}, so default CTE inlining would expand the
    # chain 2^iters times — planning alone never terminates at k=10
    parts = [
        f"e AS MATERIALIZED (SELECT {src} AS src, {dst} AS dst,"
        f" CAST({weight} AS DOUBLE) AS w FROM {edges_rel})",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e))",
        "outw AS MATERIALIZED"
        " (SELECT src, SUM(w) AS outw FROM e GROUP BY src)",
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.w / outw.outw AS p"
        " FROM e JOIN outw ON e.src = outw.src)",
        "nt AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED"
        " (SELECT node, 1.0 / (SELECT n FROM nt) AS rank FROM nodes)",
    ]
    for i in range(iters):
        p, c = f"r{i}", f"r{i + 1}"
        parts.append(
            f"d{i} AS MATERIALIZED"
            f" (SELECT COALESCE(SUM(rank), 0) AS dmass"
            f" FROM {p} WHERE node NOT IN (SELECT src FROM outw))")
        parts.append(
            f"c{i} AS MATERIALIZED"
            f" (SELECT en.dst, SUM({p}.rank * en.p) AS c"
            f" FROM {p} JOIN en ON {p}.node = en.src GROUP BY en.dst)")
        parts.append(
            f"{c} AS MATERIALIZED (SELECT nodes.node,"
            f" (1 - {d}) / (SELECT n FROM nt)"
            f" + {d} * (COALESCE(c{i}.c, 0)"
            f" + (SELECT dmass FROM d{i}) / (SELECT n FROM nt))"
            f" AS rank FROM nodes"
            f" LEFT JOIN c{i} ON nodes.node = c{i}.dst)")
    return (f"WITH {', '.join(parts)}"
            f" SELECT node, rank FROM r{iters}")


def anchor_topk(links: DataFrame, k: int = 3,
                min_len: int = 2) -> DataFrame:
    """Top-``k`` anchor TERMS per destination host — what the web
    calls each host: (dst_host, term, n, rn). Tokenization is the
    dedup family's (lowercase, whitespace). Two-phase count first;
    the rank window runs over the AGGREGATED (host, term) table —
    vocab-sized, not corpus-sized — and Spark plants WindowGroupLimit
    below the exchange, so the per-host top-k is taken map-side (the
    dedup_latest rule; never a window over raw link rows)."""
    terms = (links
             .select(_host(F.col("dst_url")).alias("dst_host"),
                     F.explode(F.split(F.trim(F.lower("anchor")),
                                       r"\s+")).alias("term"))
             .filter((F.col("dst_host") != "")
                     & (F.length("term") >= min_len))
             .groupBy("dst_host", "term")
             .agg(F.count("*").alias("n")))
    from pyspark.sql import Window
    w = (Window.partitionBy("dst_host")
         .orderBy(F.desc("n"), "term"))
    return (terms.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))
