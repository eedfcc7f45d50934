"""Output checks, run after the harness exits (outside every timed region).

Each check returns (name, ok, detail). `behavior`: the batch results are
compared with DuckDB oracles over the same input parquet, and each stream's
output with its batch `Jobs` twin over the events that were sent.
`curation`: fold == rebuild, the planted near-duplicates are recovered, and
the components and keepers are consistent.
"""
import glob
import json
import os
import shutil

import duckdb

PLANTED_RECALL = 0.9
# five standard deviations of HyperLogLog++ at Spark's default 5%
# relative standard deviation, so no seed fails on estimator noise
APPROX_UV_TOLERANCE = 5 * 0.05


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _same(con, name, got_sql, want_sql):
    """Multiset equality of two queries with the same column list."""
    try:
        n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
        n_want = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    except duckdb.Error as e:
        return (name, False, f"{type(e).__name__}: {e}")
    ok = extra == 0 and missing == 0 and n_want > 0
    return (name, ok, f"rows={n_got} expected={n_want} extra={extra} missing={missing}")


def _windows(src, ts, keys, dur, slide):
    """Epoch-aligned sliding windows (end-labelled) of every input row."""
    k = ", ".join(keys)
    sep = ", " if keys else ""
    return (f"SELECT {k}{sep}({ts} // {slide}) * {slide} - r.i * {slide} + {dur} AS windowEnd "
            f"FROM ({src}) , range({dur // slide}) r(i)")


def behavior_batch(con, data, out):
    """DuckDB oracles for the batch calls of `behavior`."""
    t = {n: _pq(os.path.join(data, f"{n}.parquet")) for n in
         ["behavior", "login", "orders", "receipts", "apachelog", "adclick", "marketing"]}
    o = lambda label: _pq(os.path.join(out, f"{label}.parquet"))  # noqa: E731
    pv = f"SELECT * FROM {t['behavior']} WHERE behavior = 'pv'"
    log = (f"SELECT split_part(value, ' ', 7) AS url, split_part(value, ' ', 6) AS method, "
           f"epoch(strptime(split_part(value, ' ', 4), '%d/%m/%Y:%H:%M:%S'))::BIGINT AS t "
           f"FROM {t['apachelog']}")
    ts = '"timestamp"'
    w_items = _windows(pv, ts, ["itemId"], 3600, 300)
    w_urls = _windows(f"SELECT * FROM ({log}) WHERE method = 'GET'", "t", ["url"], 600, 5)
    w_cat = _windows(pv, ts, ["categoryId"], 3600, 300)
    installs = f"SELECT * FROM {t['marketing']} WHERE behavior <> 'UNINSTALL'"
    w_mkt = _windows(installs, ts, ["channel", "behavior"], 3600, 10)
    w_mkt_all = _windows(installs, ts, [], 3600, 10)
    w_ads = _windows(f"SELECT * FROM {t['adclick']}", ts, ["province"], 3600, 5)
    day = f"strftime(make_timestamp({ts} * 1000000), '%Y-%m-%d')"
    blacklist = (f"SELECT userId, adId, {day} AS day, count(*) AS clickCount, "
                 f"'Click over 100 times today' AS msg FROM {t['adclick']} "
                 f"GROUP BY ALL HAVING count(*) >= 100")

    def topn(src, key, n):
        return (f"SELECT windowEnd, {key}, cnt, rank FROM (SELECT windowEnd, {key}, cnt, "
                f"row_number() OVER (PARTITION BY windowEnd ORDER BY cnt DESC, {key}) AS rank "
                f"FROM (SELECT windowEnd, {key}, count(*) AS cnt FROM ({src}) "
                f"GROUP BY ALL)) WHERE rank <= {n}")

    hourly = f"({ts} // 3600) * 3600 + 3600"
    pays = f"SELECT txId, orderId, eventTime AS payTime FROM {t['orders']} " \
           f"WHERE eventType = 'pay' AND txId <> ''"
    rcpt = f"SELECT txId AS rTxId, payChannel, eventTime AS receiptTime FROM {t['receipts']}"
    want = {
        "jobs.hotItems": ("windowEnd, itemId, cnt, rank", topn(w_items, "itemId", 3)),
        "jobs.hotUrls": ("windowEnd, url, cnt, rank", topn(w_urls, "url", 5)),
        "jobs.pageViews": ("windowEnd, pv",
                           f"SELECT {hourly} AS windowEnd, count(*) AS pv FROM ({pv}) GROUP BY 1"),
        "jobs.uniqueVisitors": ("windowEnd, uv",
                                f"SELECT {hourly} AS windowEnd, count(DISTINCT userId) AS uv "
                                f"FROM ({pv}) GROUP BY 1"),
        "jobs.loginFailWarnings": (
            "userId, firstFailTime, lastFailTime, warningMsg",
            f"SELECT userId, prevTime AS firstFailTime, eventTime AS lastFailTime, "
            f"'login fail!' AS warningMsg FROM (SELECT userId, eventTime, lag(eventTime) OVER "
            f"(PARTITION BY userId ORDER BY eventTime) AS prevTime FROM {t['login']} "
            f"WHERE eventType = 'fail') WHERE prevTime IS NOT NULL AND eventTime - prevTime <= 2"),
        "jobs.orderTimeouts": (
            "orderId, resultMsg",
            f"SELECT orderId, CASE WHEN payTime IS NULL THEN 'order timeout' "
            f"WHEN createTime IS NULL OR payTime < createTime "
            f"THEN 'already payed but not found create log' "
            f"WHEN payTime - createTime <= 900 THEN 'payed successfully' "
            f"ELSE 'payed but already timeout' END AS resultMsg FROM (SELECT orderId, "
            f"min(eventTime) FILTER (eventType = 'create') AS createTime, "
            f"min(eventTime) FILTER (eventType = 'pay') AS payTime FROM {t['orders']} "
            f"WHERE eventType IN ('create', 'pay') GROUP BY orderId)"),
        "jobs.txMatch": (
            "txId, orderId, payChannel, payTime, receiptTime, tag",
            f"SELECT coalesce(txId, rTxId) AS txId, orderId, payChannel, payTime, receiptTime, "
            f"CASE WHEN txId IS NULL THEN 'unmatched_receipt' WHEN rTxId IS NULL "
            f"THEN 'unmatched_pay' ELSE 'matched' END AS tag "
            f"FROM ({pays}) p FULL OUTER JOIN ({rcpt}) r ON txId = rTxId"),
        "jobs.marketingByChannel": (
            "windowEnd, channel, behavior, cnt",
            f"SELECT windowEnd, channel, behavior, count(*) AS cnt FROM ({w_mkt}) GROUP BY ALL"),
        "jobs.marketingTotal": (
            "windowEnd, cnt", f"SELECT windowEnd, count(*) AS cnt FROM ({w_mkt_all}) GROUP BY ALL"),
        "jobs.adClicksByProvince": (
            "windowEnd, province, cnt",
            f"SELECT windowEnd, province, count(*) AS cnt FROM ({w_ads}) GROUP BY ALL"),
        "jobs.adBlacklist": ("userId, adId, day, clickCount, msg", blacklist),
        "jobs.filterWithBlacklist": (
            f"userId, adId, province, city, {ts}",
            f"SELECT * FROM {t['adclick']} c WHERE NOT EXISTS (SELECT 1 FROM ({blacklist}) b "
            f"WHERE b.userId = c.userId AND b.adId = c.adId AND b.day = {day})"),
        "jobs.txMatchByJoin": (
            "txId, orderId, payChannel, payTime, receiptTime",
            f"SELECT txId, orderId, payChannel, payTime, receiptTime FROM ({pays}) p "
            f"JOIN ({rcpt}) r ON txId = rTxId AND receiptTime BETWEEN payTime - 5 AND payTime + 5"),
        "operators.SlidingCounts.slidingCount": (
            "windowEnd, categoryId, cnt",
            f"SELECT windowEnd, categoryId, count(*) AS cnt FROM ({w_cat}) GROUP BY ALL"),
    }
    found = [_same(con, label, f"SELECT {cols} FROM {o(label)}", f"SELECT {cols} FROM ({sql})")
             for label, (cols, sql) in want.items()]
    exact_uv = f"SELECT {hourly} AS windowEnd, count(DISTINCT userId) AS uv FROM ({pv}) GROUP BY 1"
    found.append(_close(con, "jobs.uniqueVisitorsApprox", o("jobs.uniqueVisitorsApprox"),
                        exact_uv, "windowEnd", "uv", APPROX_UV_TOLERANCE))
    return found


def _close(con, name, got, want_sql, key, value, tolerance):
    """The same keys on both sides, each value within `tolerance` (a share
    of the wanted value) of the wanted one."""
    try:
        n_want, missing, extra, off = con.execute(
            f"SELECT count(w.{key}), count(*) FILTER (g.{key} IS NULL), "
            f"count(*) FILTER (w.{key} IS NULL), "
            f"count(*) FILTER (abs(g.{value} - w.{value}) > {tolerance} * w.{value}) "
            f"FROM (SELECT {key}, {value} FROM {got}) g "
            f"FULL OUTER JOIN ({want_sql}) w ON g.{key} = w.{key}").fetchone()
    except duckdb.Error as e:
        return (name, False, f"{type(e).__name__}: {e}")
    ok = n_want > 0 and missing == 0 and extra == 0 and off == 0
    return (name, ok, f"keys={n_want} missing={missing} extra={extra} "
                      f"beyond_{tolerance:.0%}={off}")


def behavior_stream(con, out, res):
    """Each stream's output against its batch twin over the sent events."""
    o = lambda n: _pq(os.path.join(out, "stream", f"{n}.parquet"))  # noqa: E731
    found = [
        _same(con, "stream.fails == Jobs.loginFailWarnings",
              f"SELECT userId, firstTsMs // 1000, lastTsMs // 1000 FROM {o('stream_fails')} "
              f"WHERE userId >= 0",
              f"SELECT userId, firstFailTime, lastFailTime FROM {o('batch_fails')}"),
        _same(con, "stream.orders == Jobs.orderTimeouts",
              f"SELECT userId, CASE resultMsg WHEN 'payed but no create log' "
              f"THEN 'already payed but not found create log' ELSE resultMsg END "
              f"FROM {o('stream_orders')} WHERE userId >= 0",
              f"SELECT orderId, resultMsg FROM {o('batch_orders')}"),
        _same(con, "stream.tx == Jobs.txMatch",
              f"SELECT txKey, tag FROM {o('stream_tx')} WHERE txKey <> '~sentinel'",
              f"SELECT txId, tag FROM {o('batch_tx')}"),
    ]
    sent = res.get("facts", {}).get("events_sent", 0)
    found.append(("events sent", sent > 0, f"events_sent={sent}"))
    return found


def curation(con, data, out):
    o = lambda n: _pq(os.path.join(out, f"{n}.parquet"))  # noqa: E731
    docs = _pq(os.path.join(data, "documents.parquet"))
    probe = "SELECT doc_new, doc_old, jaccard_x1000 FROM "
    found = [_same(con, "fold == rebuild (probe results)",
                   probe + o("probe_folded"), probe + o("probe_rebuilt"))]

    def one(name, sql, pred, fmt):
        try:
            row = con.execute(sql).fetchone()
            found.append((name, bool(pred(row)), fmt.format(*row)))
        except duckdb.Error as e:
            found.append((name, False, f"{type(e).__name__}: {e}"))

    one("verified pairs pass the threshold",
        f"SELECT count(*) FILTER (jaccard_x1000 < 500), count(*) FROM {o('pairs')}",
        lambda r: r[0] == 0 and r[1] > 0, "below={} pairs={}")
    one("components are labelled by their minimum id",
        f"SELECT count(*) FILTER (cluster_id > id), count(*) FILTER (id = cluster_id), "
        f"count(DISTINCT cluster_id) FROM {o('clusters')}",
        lambda r: r[0] == 0 and r[1] == r[2] and r[2] > 0, "above_min={} roots={} clusters={}")
    one("one keeper per component",
        f"SELECT (SELECT count(*) FROM {o('keepers')}), "
        f"(SELECT count(DISTINCT cluster_id) FROM {o('clusters')}), "
        f"(SELECT count(*) FROM {o('keepers')} k JOIN {o('clusters')} c "
        f"ON k.keeper_id = c.id AND k.cluster_id = c.cluster_id)",
        lambda r: r[0] == r[1] == r[2] and r[0] > 0, "keepers={} clusters={} members={}")

    with open(os.path.join(data, "planted_pairs.json")) as f:
        planted = json.load(f)
    con.execute("CREATE OR REPLACE TEMP TABLE planted (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO planted VALUES (?, ?)", planted)
    con.execute(f"CREATE OR REPLACE TEMP TABLE part AS SELECT doc_id, part FROM {docs}")
    one("planted base near-duplicates share a component",
        f"SELECT count(*) FILTER (ca.cluster_id = cb.cluster_id), count(*) FROM planted p "
        f"JOIN part pa ON pa.doc_id = p.a JOIN part pb ON pb.doc_id = p.b "
        f"LEFT JOIN {o('clusters')} ca ON ca.id = p.a LEFT JOIN {o('clusters')} cb ON cb.id = p.b "
        f"WHERE pa.part = 'base' AND pb.part = 'base'",
        lambda r: r[1] > 0 and r[0] >= PLANTED_RECALL * r[1], "recovered={} planted={}")
    one("planted probe near-duplicates found in the index",
        f"SELECT count(*) FILTER (f.doc_new IS NOT NULL), count(*) FROM planted p "
        f"JOIN part pb ON pb.doc_id = p.b LEFT JOIN (SELECT DISTINCT doc_new, doc_old FROM "
        f"{o('probe_folded')}) f ON f.doc_new = p.b AND f.doc_old = p.a "
        f"WHERE pb.part = 'probe'",
        lambda r: r[1] > 0 and r[0] >= PLANTED_RECALL * r[1], "recovered={} planted={}")
    return found


def run(workload, data, out, res):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if workload == "behavior":
        return behavior_batch(con, data, out) + behavior_stream(con, out, res)
    return curation(con, data, out)


def corrupt(path):
    """Drop one row from a parquet output directory (used by the self-test)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tmp = path + ".corrupt.parquet"
    duckdb.sql(f"COPY (SELECT * FROM read_parquet({files!r}) OFFSET 1) TO '{tmp}' "
               f"(FORMAT parquet)")
    shutil.rmtree(path)
    os.makedirs(path)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))
