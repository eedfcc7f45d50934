"""Seeded input generator for the benchmark.

Writes the reference's behaviour-log record types or a `documents`-schema
corpus as multi-file parquet. The same (kind, seed, size) always yields
byte-identical files; `run.py` caches the output under
`.bench_build/data/` and reuses it in later runs.

    python3 bench/gen.py behavior --seed 7 --size 400000 --out DIR
    python3 bench/gen.py corpus --seed 7 --size 6000 --out DIR

Every directory carries `meta.json`: the Zipf exponents, the planted alert
cases and near-duplicate clusters, and a sha256 digest per table.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = 1511654400  # 2017-11-26 00:00:00 UTC, the reference log's day
DAY = 86400
FILES_PER_TABLE = 4
# Derived tables are this many times smaller than the behaviour log. The
# alert tables feed the stream replay; the access log is smaller still, as
# the fine-slide sliding count over it expands every line into 120 windows.
ALERT_SHARE = 10
LOG_SHARE = 40
ZIPF_USER = 1.1
ZIPF_ITEM = 1.2
ZIPF_URL = 1.1
ZIPF_WORD = 1.05
PAY_CHANNELS = ["alipay", "wechat"]
PROVINCES = ["beijing", "shanghai", "guangdong", "zhejiang", "sichuan", "hubei", "jiangsu",
             "fujian"]
AD_BLACKLIST_CLICKS = 100  # `Jobs.adBlacklist`'s default threshold
MARKETING_BEHAVIORS = ["CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL"]
MARKETING_CHANNELS = ["wechat", "weibo", "appstore", "huaweistore"]


def zipf_keys(rng, n_keys, size, s):
    """Bounded Zipf(s) ids in 1..n_keys; rank order is shuffled so hot keys
    are not the small ids."""
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    rank = np.minimum(np.searchsorted(cdf, rng.random(size)), n_keys - 1)
    return rng.permutation(n_keys)[rank].astype(np.int64) + 1


def day_times(rng, size):
    return np.sort(rng.integers(0, DAY, size)).astype(np.int64) + DAY0


def write_table(out, name, table):
    """Contiguous row ranges into FILES_PER_TABLE files; returns the digest
    of the written bytes (file order is fixed)."""
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d)
    h = hashlib.sha256()
    n = table.num_rows
    for i in range(FILES_PER_TABLE):
        lo, hi = n * i // FILES_PER_TABLE, n * (i + 1) // FILES_PER_TABLE
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path, compression="snappy")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def gen_behavior(rng, n, out):
    """One day of user behaviour plus the login, order, receipt, access-log,
    ad-click and app-marketing tables derived from it."""
    n_users, n_items = max(n // 10, 100), max(n // 5, 100)
    meta = {"zipf": {"user": ZIPF_USER, "item": ZIPF_ITEM, "url": ZIPF_URL},
            "rows": {}, "planted": {}}
    digests = {}

    ts = day_times(rng, n)
    item = zipf_keys(rng, n_items, n, ZIPF_ITEM)
    beh = rng.choice(np.array(["pv", "cart", "fav", "buy"]), n,
                     p=[0.89, 0.05, 0.03, 0.03])
    behavior = pa.table({
        "userId": zipf_keys(rng, n_users, n, ZIPF_USER),
        "itemId": item,
        "categoryId": ((item * 2654435761) % 5000).astype(np.int32),
        "behavior": beh,
        "timestamp": ts})
    digests["behavior"] = write_table(out, "behavior", behavior)

    # logins: background successes/fails plus planted fail pairs 1 s apart
    m = n // ALERT_SHARE
    planted_fail = max(m // 20, 10)
    lu = rng.integers(1, n_users + 1, m)
    lt = day_times(rng, m)
    ltype = np.where(rng.random(m) < 0.08, "fail", "success")
    pu = rng.choice(n_users, planted_fail, replace=False) + 1
    # five of them in the first half hour: a stream replay that sends only
    # the start of the day still meets some
    pt = np.concatenate([rng.integers(0, 1800, 5),
                         rng.integers(0, DAY - 10, planted_fail - 5)]) + DAY0
    users = np.concatenate([lu, pu, pu])
    times = np.concatenate([lt, pt, pt + 1])
    types = np.concatenate([ltype, np.full(2 * planted_fail, "fail")])
    order = np.argsort(times, kind="stable")
    ips = np.array([f"10.{a}.{b}.{c}" for a, b, c in
                    rng.integers(0, 256, (len(users), 3))])
    login = pa.table({"userId": users[order], "ip": ips,
                      "eventType": types[order], "eventTime": times[order]})
    digests["login"] = write_table(out, "login", login)
    meta["planted"]["consecutive_fail_users"] = int(planted_fail)

    # orders: paid in time, paid late, never paid, paid with no create;
    # receipts follow most pays, plus receipts with no pay at all
    k = n // ALERT_SHARE
    create = day_times(rng, k)
    fate = rng.choice(4, k, p=[0.80, 0.05, 0.10, 0.05])
    delay = np.where(fate == 1, rng.integers(901, 1200, k),
                     rng.integers(10, 900, k))
    oid = np.arange(1, k + 1, dtype=np.int64)
    has_create = fate != 3
    has_pay = fate != 2
    pay = create + delay
    o_id = np.concatenate([oid[has_create], oid[has_pay]])
    o_type = np.concatenate([np.full(has_create.sum(), "create"),
                             np.full(has_pay.sum(), "pay")])
    o_tx = np.concatenate([np.full(has_create.sum(), ""),
                           np.char.add("tx", oid[has_pay].astype(str))])
    o_t = np.concatenate([create[has_create], pay[has_pay]])
    order = np.lexsort((o_id, o_t))
    orders = pa.table({"orderId": o_id[order], "eventType": o_type[order],
                       "txId": o_tx[order], "eventTime": o_t[order]})
    digests["orders"] = write_table(out, "orders", orders)
    rec_pay = has_pay & (rng.random(k) < 0.9)
    lone = max(k // 30, 5)
    r_tx = np.concatenate([np.char.add("tx", oid[rec_pay].astype(str)),
                           np.char.add("lone", np.arange(lone).astype(str))])
    r_t = np.concatenate([pay[rec_pay] + rng.integers(0, 20, rec_pay.sum()),
                          day_times(rng, lone)])
    order = np.lexsort((r_tx, r_t))
    receipts = pa.table({
        "txId": r_tx[order],
        "payChannel": rng.choice(np.array(PAY_CHANNELS), len(r_tx)),
        "eventTime": r_t[order]})
    digests["receipts"] = write_table(out, "receipts", receipts)
    meta["planted"].update({
        "late_pays": int((fate == 1).sum()), "missing_pays": int((fate == 2).sum()),
        "pays_without_create": int((fate == 3).sum()), "lone_receipts": int(lone)})

    # apache access log lines: `ip - - dd/MM/yyyy:HH:mm:ss +0000 METHOD url`
    g = n // LOG_SHARE
    g_t = day_times(rng, g)
    stamp = np.datetime_as_string(g_t.astype("datetime64[s]"), unit="s")
    dmy = [f"{s[8:10]}/{s[5:7]}/{s[0:4]}:{s[11:]}" for s in stamp]
    urls = zipf_keys(rng, 2000, g, ZIPF_URL)
    meth = np.where(rng.random(g) < 0.9, "GET", "POST")
    ipa = rng.integers(0, 256, (g, 2))
    lines = [f"83.149.{a}.{b} - - {d} +0000 {mm} /page/{u}.html"
             for (a, b), d, mm, u in zip(ipa, dmy, meth, urls)]
    digests["apachelog"] = write_table(out, "apachelog", pa.table({"value": lines}))

    # ad clicks: uniform background clicks plus planted click fraud, (user,
    # ad) pairs clicking at least the blacklist threshold within the day
    c = n // LOG_SHARE
    fraud = 5
    per = rng.integers(AD_BLACKLIST_CLICKS, AD_BLACKLIST_CLICKS + 20, fraud)
    c_user = np.concatenate([rng.integers(1, n_users + 1, c),
                             np.repeat(rng.choice(n_users, fraud, replace=False) + 1, per)])
    c_ad = np.concatenate([rng.integers(1, 201, c), np.repeat(rng.integers(1, 201, fraud), per)])
    c_t = np.concatenate([rng.integers(0, DAY, c), rng.integers(0, DAY, per.sum())]) + DAY0
    order = np.lexsort((c_ad, c_user, c_t))
    prov = rng.integers(0, len(PROVINCES), len(c_t))
    adclick = pa.table({
        "userId": c_user[order], "adId": c_ad[order],
        "province": np.array(PROVINCES)[prov],
        "city": np.char.add(np.array(PROVINCES)[prov],
                            np.char.add("-", rng.integers(1, 6, len(c_t)).astype(str))),
        "timestamp": c_t[order]})
    digests["adclick"] = write_table(out, "adclick", adclick)
    meta["planted"]["click_fraud_pairs"] = fraud

    # app-marketing events, the record the reference generates at random
    mk = n // LOG_SHARE
    marketing = pa.table({
        "userId": np.char.add("u", rng.integers(1, n_users + 1, mk).astype(str)),
        "behavior": rng.choice(np.array(MARKETING_BEHAVIORS), mk),
        "channel": rng.choice(np.array(MARKETING_CHANNELS), mk),
        "timestamp": day_times(rng, mk)})
    digests["marketing"] = write_table(out, "marketing", marketing)

    for name, t in [("behavior", behavior), ("login", login), ("orders", orders),
                    ("receipts", receipts), ("adclick", adclick), ("marketing", marketing)]:
        meta["rows"][name] = t.num_rows
    meta["rows"]["apachelog"] = g
    return meta, digests


def make_vocab(rng, size):
    letters = np.array(list("abcdefghiklmnoprstuvwyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def perturb(rng, toks, vocab, k):
    toks = list(toks)
    for pos in rng.choice(len(toks), k, replace=False):
        toks[pos] = vocab[rng.integers(len(vocab))]
    return toks


def gen_corpus(rng, n, out):
    """`documents` rows (doc_id, text, lang, source, n_chars) with planted
    near-duplicate clusters, plus a delta batch and a probe batch that each
    carry near-duplicates of base documents."""
    vocab = make_vocab(rng, 4000)
    w = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -ZIPF_WORD
    cdf = np.cumsum(w) / w.sum()

    def fresh():
        k = int(rng.integers(40, 121))
        return list(vocab[np.searchsorted(cdf, rng.random(k))])

    docs, clusters = [], []
    next_id = [0]

    def add(toks, part):
        did = next_id[0]
        next_id[0] += 1
        docs.append((did, " ".join(toks), part))
        return did

    # base corpus: ~25% of rows belong to planted clusters of 2-5 copies
    while next_id[0] < n:
        if rng.random() < 0.1:
            base = fresh()
            ids = [add(base, "base")]
            for _ in range(int(rng.integers(1, 5))):
                ids.append(add(perturb(rng, base, vocab, int(rng.integers(1, 3))), "base"))
            clusters.append(ids)
        else:
            add(fresh(), "base")
    base_docs = list(docs)
    # later batches: fresh docs plus near-dups of base docs
    # half of each later batch are near-dups, so the recall the checks
    # estimate from them rests on dozens of pairs, not a handful
    for part in ["delta", "probe"]:
        for _ in range(n // 10):
            if rng.random() < 0.5:
                src = base_docs[int(rng.integers(len(base_docs)))]
                did = add(perturb(rng, src[1].split(" "), vocab, 1), part)
                clusters.append([src[0], did])
            else:
                add(fresh(), part)

    ids = np.array([d[0] for d in docs], dtype=np.int64)
    text = [d[1] for d in docs]
    part = np.array([d[2] for d in docs])
    src = np.char.add("src", (rng.integers(0, 6, len(docs))).astype(str))
    table = pa.table({
        "doc_id": ids, "text": text,
        "lang": np.where(rng.random(len(docs)) < 0.9, "en", "de"),
        "source": src,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        "part": part})
    digests = {"documents": write_table(out, "documents", table)}
    pairs = sorted({(min(a, b), max(a, b)) for c in clusters for a in c for b in c if a != b})
    meta = {"zipf": {"word": ZIPF_WORD},
            "rows": {"documents": len(ids),
                     **{p: int((part == p).sum()) for p in
                        ["base", "delta", "probe"]}},
            "planted": {"clusters": len(clusters), "pairs": len(pairs)}}
    with open(os.path.join(out, "planted_pairs.json"), "w") as f:
        json.dump(pairs, f)
    return meta, digests


GENERATORS = {"behavior": gen_behavior, "corpus": gen_corpus}


def generate(kind, seed, size, out):
    """Generate into `out` unless a complete copy is already there."""
    if os.path.exists(os.path.join(out, "meta.json")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, size, sorted(GENERATORS).index(kind)])
    meta, digests = GENERATORS[kind](rng, size, tmp)
    meta.update({"kind": kind, "seed": seed, "size": size, "digests": digests})
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.kind, a.seed, a.size, a.out)


if __name__ == "__main__":
    main(sys.argv[1:])
