"""Output checks, all run outside the timed window.

- Serving replies are compared with a DuckDB twin of each subject,
  answered once per distinct parameter set over the same parquet.
- Ingest results are compared with exact counts kept by the dump
  generator, including the churn the snapshots imply.
- Analytics digests must agree across passes (the registry's own
  DuckDB parity check runs on top, in the workload).
"""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb

from server_spark.operators.auctions import COLLAPSE_KEYS
from server_spark.sources.synthetic import AUCTIONS_SQL_CTE

# -- serve -----------------------------------------------------------------


def _in_list(ids) -> str:
    return ", ".join(str(int(i)) for i in ids)


def _order_sql(sort_kind: str) -> str:
    rest = [k for k in COLLAPSE_KEYS if k != sort_kind]
    return ", ".join([f"{sort_kind} DESC"] + [f"{k} ASC" for k in rest])


def twin_sql(subject: str, params: tuple) -> str | None:
    """DuckDB SQL giving the same rows as the serving subject, or None
    for subjects without a twin."""
    if subject == "auctions_page":
        items, sort_kind, page = params
        return f"""WITH {AUCTIONS_SQL_CTE}
            SELECT item, owner, buyout, quantity, time_left,
                   list_sort(list(auc)) AS auc_list,
                   count(*) AS auc_count, buyout / quantity AS buyout_per
            FROM auctions WHERE item IN ({_in_list(items)})
            GROUP BY item, owner, buyout, quantity, time_left
            ORDER BY {_order_sql(sort_kind)}
            LIMIT 25 OFFSET {25 * page}"""
    if subject == "price_list":
        (items,) = params
        return f"""WITH {AUCTIONS_SQL_CTE}
            SELECT item, min(buyout / quantity) AS min_buyout_per,
                   max(buyout / quantity) AS max_buyout_per,
                   avg(buyout / quantity) AS average_buyout_per,
                   median(buyout / quantity) AS median_buyout_per,
                   sum(quantity) AS volume
            FROM auctions
            WHERE item IN ({_in_list(items)}) AND buyout > 0
            GROUP BY item"""
    if subject == "price_history_slice":
        users, lo, hi = params
        return f"""
            SELECT user_id AS item,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   min(value) AS min_value, max(value) AS max_value,
                   avg(value) AS avg_value, count(*) AS n_points
            FROM events
            WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'
              AND user_id IN ({_in_list(users)})
            GROUP BY 1, 2 ORDER BY 1, 2"""
    if subject == "items_query":
        (q,) = params
        q = q.lower().replace("'", "''")
        return f"""
            SELECT p_partkey AS item, p_name AS item_name,
                   levenshtein(lower(p_name), '{q}') AS distance
            FROM part ORDER BY distance, item LIMIT 10"""
    if subject == "realm_status":
        (region,) = params
        region = region.replace("'", "''")
        return f"""
            SELECT r_name AS region_name, n_nationkey AS realm_id,
                   n_name AS realm_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = '{region}' ORDER BY realm_id"""
    return None


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _sort_key(row) -> str:
    # floats rounded so last-digit engine differences sort alike
    return repr(tuple(f"{x:.6g}" if isinstance(x, float) else x for x in row))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Same multiset of rows, floats equal to 1e-9 relative (the two
    engines sum and take medians in different orders)."""
    if len(got) != len(want):
        return False
    g = sorted((_canon(r) for r in got), key=_sort_key)
    w = sorted((_canon(r) for r in want), key=_sort_key)
    return all(_close(a, b) for a, b in zip(g, w))


class ServeTwin:
    """Answers each distinct (subject, params) once with DuckDB."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        for t in ("lineitem", "part", "events", "nation", "region"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self._memo: dict = {}

    def close(self) -> None:
        self.con.close()

    def expected(self, subject: str, params: tuple):
        key = (subject, params)
        if key not in self._memo:
            sql = twin_sql(subject, params)
            self._memo[key] = (None if sql is None
                               else self.con.execute(sql).fetchall())
        return self._memo[key]

    def check(self, subject: str, params: tuple, rows) -> bool | None:
        """True/False for a checked reply, None when the subject has
        no twin."""
        want = self.expected(subject, params)
        if want is None:
            return None
        return rows_match([tuple(r) for r in rows], want)


# -- ingest ----------------------------------------------------------------


def expected_churn(snapshots) -> dict:
    """Churn each realm's consecutive snapshots imply.

    ``snapshots``: iterable of (region, realm, dump_ts, auction ids).
    Returns {(region, realm, dump_ts): (n_new, n_removed,
    n_persisting)} for every snapshot that has a predecessor."""
    by_realm = defaultdict(list)
    for region, realm, ts, aucs in snapshots:
        by_realm[(region, realm)].append((ts, frozenset(aucs)))
    out = {}
    for (region, realm), snaps in by_realm.items():
        snaps.sort(key=lambda s: s[0])
        for (_, prev), (ts, cur) in zip(snaps, snaps[1:]):
            out[(region, realm, ts)] = (
                len(cur - prev), len(prev - cur), len(cur & prev))
    return out


def ingest_failures(dumps, bronze_rows: int, manifest_keys: list,
                    churn: dict, gold_rows: int, gold_keys: int) -> list[str]:
    """Compare what the lake holds with what the generator landed.

    ``dumps``: every distinct dump ingested; ``manifest_keys``: one
    (region, realm, dump_ts) tuple per manifest row; ``churn``:
    {(region, realm, dump_ts): (n_new, n_removed, n_persisting)} read
    from the churn gold; ``gold_rows``/``gold_keys``: rows and
    distinct (region, realm, dump_ts, item) keys of gold prices.
    Returns one message per failed check."""
    bad = []
    want_rows = sum(len(d.aucs) for d in dumps)
    if bronze_rows != want_rows:
        bad.append(f"bronze rows {bronze_rows} != generated {want_rows}")
    want_keys = sorted((d.region, d.realm, d.dump_ts) for d in dumps)
    if sorted(manifest_keys) != want_keys:
        bad.append("manifest does not hold each dump exactly once")
    want_churn = expected_churn(
        (d.region, d.realm, d.dump_ts, d.aucs) for d in dumps)
    for key, counts in want_churn.items():
        if churn.get(key) != counts:
            bad.append(f"churn {key}: {churn.get(key)} != {counts}")
    if set(churn) - set(want_churn):
        bad.append("churn has rows for snapshots without a predecessor")
    want_gold = sum(len(d.priced_items) for d in dumps)
    if gold_rows != want_gold or gold_keys != gold_rows:
        bad.append(f"gold prices rows {gold_rows} (distinct {gold_keys})"
                   f" != one per (realm, snapshot, item) = {want_gold}")
    return bad
