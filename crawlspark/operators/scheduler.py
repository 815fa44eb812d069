"""Politeness scheduler + priority frontier queue (SURVEY §2.4 A1, §2.5 W1).

Reference analog: Scrapy's per-domain concurrency/delay knobs
(settings.py:23-31, DOWNLOAD_DELAY covid_news_spider.py:427-428,
ROBOTSTXT_OBEY settings.py:20) and its disk-backed priority queue
(queuelib).  Here the schedule is an explicit DataFrame computation:

  * each micro-batch represents a fixed virtual time window
    (rules.BATCH_PERIOD_S); a host's budget per batch is
    floor(period / crawl_delay) — the politeness invariant;
  * robots.txt Disallow prefixes filter URLs before scheduling;
  * per-host top-K is the canonical window top-k, made skew-proof with a
    two-phase rank: phase 1 ranks within (host, salt) sub-groups so a hot
    host's millions of pending rows never land in one window partition;
    phase 2 ranks the ≤ S·K phase-1 survivors per host.  Ordering is the
    engine's deterministic crawl order: (priority DESC, url ASC) — the
    same at any parallelism, which is what makes local[8] ≡ local[32]
    (and N ≡ 4N executors) bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark import rules
from crawlspark.functions.urls import sql_list, sql_lit

SALT_BUCKETS = 16  # phase-1 sub-groups per host (hot-host skew mitigation)
# yield admission: the optimistic score of a host without evidence, and
# the terminal failures that count as evidence without an ok fetch
YIELD_PRIOR_PERMILLE = 1000
MIN_EVIDENCE = 3


# Deterministic priority over (depth, page_kind, url): link-discovery
# surfaces first (listings, sitemaps, feeds — they keep the frontier fed),
# keyword-bearing URLs boosted (reference 'higher priority' note :218),
# deeper pages later.  priority_py is its Python twin.
PRIORITY_SQL = (
    f"CASE WHEN page_kind IN ({sql_list(('listing', 'sitemap', 'feed'))})"
    f" THEN {sql_lit(10.0)} ELSE {sql_lit(0.0)} END"
    f" + CASE WHEN lower(url) RLIKE {sql_lit('|'.join(rules.SEARCH_KEYWORDS))}"
    f" THEN {sql_lit(2.0)} ELSE {sql_lit(0.0)} END"
    f" - CAST(depth AS DOUBLE) * {sql_lit(0.1)}"
)


def priority_py(depth: int, page_kind: str, url: str) -> float:
    p = 10.0 if page_kind in ("listing", "sitemap", "feed") else 0.0
    lu = url.lower()
    if any(k in lu for k in rules.SEARCH_KEYWORDS):
        p += 2.0
    return p - 0.1 * depth


def robots_rx_py(disallow: list[str] | None,
                 allow: list[str] | None = None) -> str | None:
    """Compile a host's robots rules into ONE anchored 'blocked' regex —
    computed once per host (the hosts dimension is tiny), evaluated
    row-wise with regexp_like (no higher-order functions, whose
    outer-lambda references miscompile under the broadcast join).

    Exact REP longest-match semantics (functions/robots.path_allowed) as
    a single regular expression: blocked iff some Disallow D matches with
    no Allow of pattern length >= len(D) also matching — each D
    alternative carries a negative lookahead over exactly the Allow
    patterns that beat it, all anchored at the path start.  Wildcards and
    `$` anchors come from the shared pattern_rx converter, so the regex
    engine path and the Python oracle path can never drift."""
    from crawlspark.functions.robots import pattern_rx

    if not disallow:
        return None
    alw = allow or []
    alts = []
    for d in disallow:
        beating = [pattern_rx(a) for a in alw if len(a) >= len(d)]
        guard = f"(?!(?:{'|'.join(beating)}))" if beating else ""
        alts.append(guard + pattern_rx(d))
    return "^(?:" + "|".join(alts) + ")"


def robots_allowed_py(url: str, disallow: list[str] | None,
                      allow: list[str] | None = None) -> bool:
    from crawlspark.functions.robots import path_allowed

    if not disallow:
        return True
    try:
        path = "/" + url.split("://", 1)[1].split("/", 1)[1]
    except IndexError:
        path = "/"
    return path_allowed(path, disallow, allow)


def schedule(pending: DataFrame, hosts: DataFrame, batch_id: int,
             with_blocked: bool = False) -> DataFrame:
    """pending(FRONTIER) × hosts → the rows fetched this batch.

    hosts is a small dimension → broadcast join (no shuffle on the big
    side for the budget/robots lookup); the only shuffle is the per-host
    rank, bounded by the two-phase salt.  hosts must carry the compiled
    ``robots_rx`` column (crawl._hosts_with_rx).

    ``with_blocked=True`` also keeps the robots-disallowed eligible rows,
    and adds a boolean ``blocked`` column (false on the fetched rows), so
    the caller can retire them with a terminal progress record — otherwise
    they would sit in the pending set forever, re-scanned every batch and
    rewritten by every compaction.  Both kinds come out of ONE plan: the
    pending ⋈ hosts join and its robots check run once, and the blocked
    rows rank in windows of their own, which the budget filter ignores.
    """
    df = pending.filter(F.col("not_before_batch") <= F.lit(batch_id))
    df = df.join(F.broadcast(hosts), on="host", how="inner")

    # robots: Disallow prefix check against the precompiled per-host regex.
    # Bare-host URLs extract to '' — coalesce to '/' so a 'Disallow: /'
    # rule blocks them here exactly as in robots_allowed_py (oracle twin).
    raw_path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    df = df.withColumn("blocked", F.col("robots_rx").isNotNull()
                       & F.regexp_like(path, F.col("robots_rx")))
    if not with_blocked:
        df = df.filter(~F.col("blocked"))

    salt = F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS))
    order = (F.desc("priority"), F.asc("url"))
    w1 = Window.partitionBy("host", salt, "blocked").orderBy(*order)
    w2 = Window.partitionBy("host", "blocked").orderBy(*order)
    out = (
        df.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("blocked") | (F.col("r1") <= F.col("budget_per_batch")))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("blocked") | (F.col("rank") <= F.col("budget_per_batch")))
        .drop("r1", "rank", "crawl_delay_s", "budget_per_batch", "robots_disallow",
              "robots_allow", "robots_rx")
    )
    return out if with_blocked else out.drop("blocked")


# ------------------------------------------------------- adaptive admission

def host_yield_scores(metrics: DataFrame) -> DataFrame:
    """host → integer yield score from the per-(batch, host) metrics table:
    documents produced per successful fetch, in permille.  Hosts without
    enough evidence keep the optimistic YIELD_PRIOR_PERMILLE (new hosts
    must not be starved before they have had a chance to produce —
    OPIC-style optimism).  Evidence means at least one ok fetch, or at
    least MIN_EVIDENCE terminal failures/skips: one unlucky 404 must not
    zero a host forever (with a binding cap and no ok fetches, a zeroed
    host is never rescheduled, so the score could never self-correct),
    but a host that has failed MIN_EVIDENCE times with nothing ok scores
    0 rather than outranking measured live hosts.

    All-integer ((docs*1000) DIV max(ok,1)) so the score — and therefore
    the admission order built on it — is bit-identical at any parallelism.
    One groupBy over a host-sized table; output is host-cardinality."""
    agg = metrics.groupBy("host").agg(
        F.sum("n_docs_out").alias("docs"), F.sum("n_ok").alias("ok"),
        (F.sum("n_failed") + F.sum("n_skipped")).alias("terminal_bad"),
    )
    has_evidence = (F.col("ok") > 0) | (
        F.col("terminal_bad") >= MIN_EVIDENCE
    )
    return agg.select(
        "host",
        F.when(has_evidence, F.expr("(docs * 1000) div greatest(ok, 1)"))
        .otherwise(F.lit(YIELD_PRIOR_PERMILLE)).cast("long")
        .alias("yield_permille"),
    )


def cap_global_batch(sched: DataFrame, scores: DataFrame, cap: int,
                     age_bonus_permille: int = 0,
                     batch_id: int | None = None) -> DataFrame:
    """Global fetch-capacity cap with yield-weighted admission: when the
    fleet can fetch at most ``cap`` pages per batch (politeness budgets
    bound each HOST, but fleet capacity bounds the BATCH), spend the slots
    on the hosts that have historically produced the most documents per
    fetch.  Admission order is the total order (yield DESC, priority DESC,
    url ASC) — URLs are unique, so the order (and the admitted set) is
    deterministic at any parallelism.  Rows cut here are simply not
    scheduled: they stay in the pending set and compete again next batch,
    so nothing needs retiring or re-queueing.

    ``age_bonus_permille`` > 0 (with ``batch_id``) adds an anti-starvation
    aging term: every row's effective score grows by the bonus per batch
    it has waited since discovery, so a low-yield host's rows eventually
    out-rank fresh high-yield work instead of being deferred forever —
    the classic aged-priority-queue guarantee.  0 (the default) keeps the
    cut a pure function of (yield, priority, url).

    Scale shape: the scores side is host-cardinality → broadcast join (no
    shuffle of the batch); the cut is orderBy().limit(), which Spark plans
    as TakeOrderedAndProject — a per-partition top-``cap`` heap plus a
    driver merge of cap-sized slivers, never a global sort."""
    s = sched.join(F.broadcast(scores), on="host", how="left").withColumn(
        "_ys", F.coalesce("yield_permille", F.lit(YIELD_PRIOR_PERMILLE))
    )
    if age_bonus_permille and batch_id is not None:
        s = s.withColumn(
            "_ys",
            F.col("_ys")
            + F.lit(int(age_bonus_permille))
            * F.greatest(F.lit(0),
                         F.lit(int(batch_id)) - F.col("discovered_batch")),
        )
    return (
        s.orderBy(F.desc("_ys"), F.desc("priority"), F.asc("url"))
        .limit(cap)
        .drop("_ys", "yield_permille")
    )


# ---------------------------------------------------------------- trap guard

def template_expr(url):
    """Digit-normalized path template of a URL (the same normalization the
    url_trap_detect query uses): scheme+host stripped, digit runs → 'N'.
    Calendar pages, session ids and facet permutations all collapse to one
    template."""
    path = F.regexp_replace(url, r"^[a-z]+://[^/]*", "")
    return F.regexp_replace(path, "[0-9]+", "N")


def cap_template_explosion(cand: DataFrame, cap: int,
                           url_col: str = "url",
                           host_col: str = "host") -> DataFrame:
    """Spider-trap admission guard: keep at most `cap` candidate URLs per
    (host, path-template) per batch, so a calendar widget / session-id
    generator / faceted search can't flood the frontier no matter how many
    links a page emits (the reference's fixed seed lists make traps
    impossible by construction; an open 10^10 frontier needs this bound).

    Winners are deterministic (lowest URL first) — crawl-order equality
    across parallelism levels is preserved.  Cost when enabled: one
    (host, template) hash shuffle of the BATCH's candidates (bounded by
    n_scheduled × links-per-page, never frontier-sized).  Over a whole
    crawl a trap's admissions are bounded by cap × n_batches, which turns
    an exponential blowup into a linear dribble the url_trap_detect
    report then surfaces for host-level blocklisting."""
    tpl = template_expr(F.col(url_col)).alias("_tpl")
    w = Window.partitionBy(host_col, "_tpl").orderBy(url_col)
    return (
        cand.select("*", tpl)
        .withColumn("_tpl_rn", F.row_number().over(w))
        .filter(F.col("_tpl_rn") <= cap)
        .drop("_tpl", "_tpl_rn")
    )


# ---- AutoThrottle: latency-adaptive per-host budgets ---------------------

def autothrottle_fold_py(batches: list[tuple[int, int, int]], *,
                         min_delay_ms: int) -> int:
    """The per-host delay recurrence, shared verbatim by the engine's
    grouped-map kernel and the crawl oracle so the two cannot drift:
    Scrapy AutoThrottle's update (delay → average of delay and latency,
    at target concurrency 1; reference settings scaffold
    settings.py:71-80) at batch granularity and in exact integer
    milliseconds.  ``batches`` is the host's metrics history as
    (batch_id, n_scheduled, sum_elapsed_ms), any order.  The robots
    crawl-delay stays the politeness FLOOR (throttling never fetches
    faster than robots allows) and rules.AUTOTHROTTLE_MAX_DELAY_MS the
    ceiling; rules.AUTOTHROTTLE_START_DELAY_MS makes the first contact
    cautious, then observed latencies speed the host up."""
    d = max(rules.AUTOTHROTTLE_START_DELAY_MS, min_delay_ms)
    for _, n, sum_ms in sorted(batches):
        if not n:
            continue
        d = (d + sum_ms // n) // 2
        d = min(max(d, min_delay_ms), rules.AUTOTHROTTLE_MAX_DELAY_MS)
    return d


def apply_autothrottle(hosts: DataFrame, metrics: DataFrame) -> DataFrame:
    """Replace the static robots-derived ``budget_per_batch`` with the
    AutoThrottle budget ``max(1, period // delay)``, where the period is
    rules.BATCH_PERIOD_S and delay folds the host's full metrics history
    (autothrottle_fold_py).  The fold runs as a grouped-map pandas kernel
    keyed by host — each host's history is n_batches rows, so at 10^5+
    hosts the state scan is one distributed job and nothing lands on the
    driver.  Hosts with no history yet get the cautious initial budget
    from max(start delay, robots delay)."""
    import pandas as pd

    period_ms = int(rules.BATCH_PERIOD_S * 1000)

    delays = hosts.select(
        "host", (F.col("crawl_delay_s") * 1000).cast("long").alias("_min_d")
    )
    m = metrics.select("host", "batch_id", "n_scheduled", "sum_elapsed_ms") \
        .join(delays, on="host")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        host = pdf["host"].iloc[0]
        min_d = int(pdf["_min_d"].iloc[0])
        d = autothrottle_fold_py(
            list(zip(pdf["batch_id"].astype(int),
                     pdf["n_scheduled"].astype(int),
                     pdf["sum_elapsed_ms"].astype(int))),
            min_delay_ms=min_d,
        )
        return pd.DataFrame(
            {"host": [host],
             "_at_budget": [max(1, period_ms // d)]}
        )

    tb = m.groupBy("host").applyInPandas(
        fold, schema="host string, _at_budget long")
    init_budget = F.greatest(
        F.lit(1),
        F.expr(f"{period_ms} div greatest({rules.AUTOTHROTTLE_START_DELAY_MS}L, "
               f"cast(crawl_delay_s * 1000 as long))"),
    )
    return (
        hosts.join(tb, on="host", how="left")
        .withColumn(
            "budget_per_batch",
            F.coalesce("_at_budget", init_budget).cast("int"),
        )
        .drop("_at_budget")
    )


# ------------------------------------------------------- circuit breaker

def breaker_tripped_py(batches: list[tuple[int, int, int]], *,
                       threshold: int, cooldown: int,
                       now_batch: int) -> bool:
    """Per-host circuit-breaker predicate, shared verbatim by the engine's
    SQL form (breaker_blocked_hosts) and the crawl oracle so the two
    cannot drift.  ``batches`` is the host's metrics history as
    (batch_id, n_ok, n_scheduled), any order.  The breaker is OPEN at
    ``now_batch`` iff the host's last ``threshold`` ACTIVE batches
    (n_scheduled > 0) all produced zero successful fetches AND the most
    recent active batch is within ``cooldown`` batches — after the
    cooldown passes, the host re-admits for one probe batch (half-open);
    a failed probe becomes the new most-recent active batch and re-opens
    the breaker for another cooldown."""
    act = sorted(b for b in batches if b[2] > 0)
    if len(act) < threshold:
        return False
    if any(n_ok > 0 for _, n_ok, _ in act[-threshold:]):
        return False
    return (now_batch - act[-1][0]) <= cooldown


def breaker_blocked_hosts(metrics: DataFrame, *, batch_id: int,
                          threshold: int, cooldown: int) -> DataFrame:
    """Hosts whose breaker is open at ``batch_id`` (engine twin of
    breaker_tripped_py): one host-keyed window over the active metrics
    rows takes each host's last ``threshold`` batches, a host-sized agg
    checks all-failing + cooldown.  The metrics log is the ONLY state —
    resume-safe for free, nothing driver-resident."""
    act = metrics.filter(F.col("n_scheduled") > 0)
    w = Window.partitionBy("host").orderBy(F.desc("batch_id"))
    tail = act.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") <= threshold)
    st = tail.groupBy("host").agg(
        F.count("*").alias("n_act"),
        F.sum((F.col("n_ok") > 0).cast("long")).alias("n_ok_batches"),
        F.max("batch_id").alias("last_b"),
    )
    return st.filter(
        (F.col("n_act") >= threshold)
        & (F.col("n_ok_batches") == 0)
        & ((F.lit(batch_id) - F.col("last_b")) <= cooldown)
    ).select("host")


def apply_circuit_breaker(hosts: DataFrame, blocked: DataFrame) -> DataFrame:
    """Zero the politeness budget of breaker-open hosts: their pending
    rows stay in the frontier untouched (schedule()'s rank filter admits
    nothing at budget 0) and re-admit automatically when the breaker
    closes.  The blocked set is host-sized — broadcast join."""
    return (
        hosts.join(
            F.broadcast(blocked.withColumn("_trip", F.lit(1))),
            on="host", how="left")
        .withColumn(
            "budget_per_batch",
            F.when(F.col("_trip") == 1, F.lit(0))
            .otherwise(F.col("budget_per_batch")).cast("int"),
        )
        .drop("_trip")
    )
