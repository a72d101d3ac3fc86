"""Correctness checks of every benchmark run, against DuckDB and the
generator's planted facts. Each check returns (problems, metrics): a list
of human-readable failures (empty when correct) and guard metrics for the
traced output."""

import collections
import json
import math
import os

import duckdb

# share of planted near-duplicate copies Curate.run must remove
CURATE_RECALL_FLOOR = 0.9


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _same_rows(a, b, what):
    """Multiset equality of row tuples; doubles compare to 1e-9 relative."""
    if len(a) != len(b):
        return [f"{what}: {len(a)} rows, oracle has {len(b)}"]

    def key(r):
        return tuple((x is None, x if not isinstance(x, float) else round(x, 6)) for x in r)

    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return [f"{what}: {x} != oracle {y}"]
            elif u != v:
                return [f"{what}: {x} != oracle {y}"]
    return []


DOMAIN_RISK_TOP10 = """
WITH c AS (SELECT * FROM {load} WHERE mint <> ''),
agg AS (
  SELECT mint, count(*) AS total_transfers,
         count(DISTINCT to_account) AS unique_holders,
         count(DISTINCT CASE WHEN tx_type = 'SWAP' THEN from_account END) AS swap_sellers,
         coalesce(min(CASE WHEN token_name <> '' THEN token_name END), 'Unknown') AS token_name
  FROM c GROUP BY mint),
sc AS (
  SELECT *, 100.0 * (1.0 / (1 + unique_holders)) AS ownership_risk,
         100.0 * (1.0 / (1 + swap_sellers)) AS liquidity_risk,
         total_transfers / (1.0 + unique_holders) AS concentration
  FROM agg),
r AS (SELECT *, ownership_risk * 0.4 + liquidity_risk * 0.4 + concentration * 0.2 AS rug_risk FROM sc)
SELECT mint, total_transfers, unique_holders, swap_sellers, token_name,
       greatest(0.0, 100.0 - rug_risk) AS safety_score
FROM r ORDER BY safety_score DESC, mint ASC LIMIT 10
"""


def check_etl(out, facts):
    con = duckdb.connect()
    load = _pq(out["load_dir"])
    problems = []
    rows = con.sql(f"SELECT count(*) FROM {load}").fetchone()[0]
    if rows != facts["canonical_rows"]:
        problems.append(f"canonical rows {rows} != generated Σ max(1, transfers) "
                        f"{facts['canonical_rows']}")
    cols = ["mint", "total_transfers", "unique_holders", "swap_sellers", "token_name", "safety_score"]
    spark_top = [tuple(r[c] for c in cols) for r in out["top10"]]
    oracle = con.sql(DOMAIN_RISK_TOP10.format(load=load)).fetchall()
    if [r[0] for r in spark_top] != [r[0] for r in oracle]:
        problems.append(f"top-10 mints differ from DuckDB: {[r[0] for r in spark_top]} "
                        f"vs {[r[0] for r in oracle]}")
    problems += _same_rows(spark_top, oracle, "top-10")
    problems += check_dashboard(out["dashboard"], facts)[0]
    return problems, {}


def check_dashboard(out, facts):
    con = duckdb.connect()
    tables = out["table_dir"]
    con.sql(f"CREATE TABLE events_all AS SELECT * FROM read_parquet('{tables}/events.parquet')")
    con.sql(f"CREATE TABLE customer AS SELECT * FROM read_parquet('{tables}/customer.parquet')")
    oracle = out["oracle"]
    problems = []

    def compare(result_dir, events_filter, sql, what):
        con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM events_all {events_filter}")
        rel = con.sql(f"SELECT * FROM {_pq(result_dir)}")
        cols = rel.columns
        got = rel.fetchall()
        want = con.sql(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()
        return _same_rows(got, want, what)

    flagship = (
        "SELECT r.user_id, coalesce(c.c_name, 'Unknown') AS display_name, r.n_events, r.n_types, "
        "r.n_purchases, r.first_type, r.total_value, r.ownership_risk, r.liquidity_risk, "
        "r.concentration, r.rug_risk, r.safety_score "
        f"FROM (SELECT * FROM ({oracle['risk']}) ORDER BY safety_score DESC, user_id ASC LIMIT 10) r "
        "LEFT JOIN customer c ON r.user_id = c.c_custkey")
    check_dir = out["check_dir"]
    panels = {"flagship": ("WHERE event_type <> 'error'", flagship),
              "tumbling": ("", oracle["tumbling"]),
              "sessionize": ("", oracle["sessionize"])}
    for kind in out["kinds"]:
        events_filter, sql = panels[kind]
        problems += compare(f"{check_dir}/{kind}", events_filter, sql, kind)
    for m in out["drilldown_mints"]:
        problems += compare(f"{check_dir}/drilldown_{m}", f"WHERE user_id = {int(m)}",
                            oracle["risk"], f"drilldown {m}")
    return problems, {}


def check_feed(out, facts):
    con = duckdb.connect()
    msgs, kinds, orig = facts["messages"], facts["kinds"], facts["original"]
    problems = []
    want_names = collections.Counter(
        json.loads(m)["name"] for m, k in zip(msgs, kinds) if k != "malformed")
    got_names = collections.Counter(
        r[0] for r in con.sql(f"SELECT name FROM {_pq(out['delivered'])}").fetchall())
    if got_names != want_names:
        missing = sum((want_names - got_names).values())
        extra = sum((got_names - want_names).values())
        problems.append(f"delivery not exactly once: {missing} missing, {extra} extra")
    want_bad = collections.Counter(m for m, k in zip(msgs, kinds) if k == "malformed")
    quarantined = collections.Counter()
    if os.path.isdir(out["quarantined"]):
        quarantined.update(r[0] for r in con.sql(
            f"SELECT payload FROM {_pq(out['quarantined'])}").fetchall())
    if quarantined != want_bad:
        problems.append(f"quarantine holds {sum(quarantined.values())} payloads, "
                        f"{sum(want_bad.values())} malformed were posted")
    verdicts = con.sql(f"SELECT doc_id, dup_of FROM {_pq(out['verdicts'])}").fetchall()
    dup_of = dict(verdicts)
    if len(verdicts) != len(msgs) or set(dup_of) != set(range(len(msgs))):
        problems.append(f"{len(verdicts)} verdicts for {len(msgs)} messages")
    reposts = [i for i, k in enumerate(kinds) if k == "repost"]
    hit = sum(1 for i in reposts if dup_of.get(i) == orig[i])
    if hit != len(reposts):
        problems.append(f"{len(reposts) - hit} of {len(reposts)} re-posts not verdicted dup_of their original")
    false_dup = sum(1 for i, k in enumerate(kinds) if k == "valid" and dup_of.get(i, i) != i)
    if false_dup:
        problems.append(f"{false_dup} original messages verdicted as duplicates")
    return problems, {"ingest.dup_recall": hit / max(1, len(reposts)),
                      "ingest.quarantined": float(sum(quarantined.values()))}


def check_curate(out, facts):
    con = duckdb.connect()
    problems = []
    c = out["counts"]
    chain = [c["input"], c["after_dedup"], c["after_sem_dedup"], c["after_quality"], c["after_mixture"]]
    if chain != sorted(chain, reverse=True) or c["input"] != facts["docs"]:
        problems.append(f"stage counts not monotone from {facts['docs']} docs: {chain}")
    if c["train"] + c["val"] + c["test_clean"] + c["test_dropped"] != c["after_mixture"]:
        problems.append(f"splits do not partition the mixed corpus: {c}")
    kept = {r[0] for r in con.sql(f"SELECT doc_id FROM {_pq(out['out_dir'] + '/deduped')}").fetchall()}
    fams = facts["families"]
    removed = sum(len(f) - len(kept.intersection(f)) for f in fams)
    planted = sum(len(f) - 1 for f in fams)
    recall = removed / planted
    if recall < CURATE_RECALL_FLOOR:
        problems.append(f"near-dup family recall {recall:.3f} < {CURATE_RECALL_FLOOR}")
    return problems, {"curate.dup_recall": recall}


CHECKS = {
    "solana_etl": check_etl,
    "dashboard": check_dashboard,
    "feed_ingest": check_feed,
    "corpus_curate": check_curate,
}
