"""Seeded input generators for the benchmark.

Two families, both pure functions of the seed (same seed -> byte-identical
files):

* ``write_fixture``: the ten harness parquet tables (region ... embeddings)
  the registry specs read, with the schemas and value distributions of the
  sf0.1 test data (uniform keys, exponential event values, ~5% near-duplicate
  documents, unit-norm 64-d embeddings).
* ``etl_payloads``: jsonplaceholder-shaped users / posts / comments JSON
  arrays at 1:10:50 with skewed comments-per-post and commenter emails, the
  FIXTURES.md section A edge cases, and the ground truth the warehouse
  queries must return, computed here from the generated records.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]


def _rng(seed, stream):
    # One independent stream per table, so adding a table never shifts the
    # values of another.
    return np.random.default_rng([seed, stream])


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def fixture_sizes(scale):
    """Row counts of the harness tables at scale factor ``scale``."""
    return {
        "customer": int(150000 * scale), "supplier": int(10000 * scale),
        "part": int(200000 * scale), "orders": int(1500000 * scale),
        "lineitem": int(6000000 * scale), "events": int(1000000 * scale),
        "documents": max(500, int(50000 * scale)),
        "embeddings": max(500, int(20000 * scale)),
    }


def write_fixture(seed, scale, out_dir):
    """Write the ten harness tables as single-file parquet under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    n = fixture_sizes(scale)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    k = n["customer"]
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, k, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)]})

    r = _rng(seed, 2)
    k = n["supplier"]
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, k, -999.99, 9999.99)})

    r = _rng(seed, 3)
    k = n["part"]
    keys = np.arange(k)
    _write(p("part"), {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, k), r.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})

    r = _rng(seed, 4)
    k = n["orders"]
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, k, 1000.0, 500000.0),
        "o_orderdate": _days(r, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)]})

    r = _rng(seed, 5)
    k = n["lineitem"]
    _write(p("lineitem"), {
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, k, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, k)],
        "l_shipdate": _days(r, k, "1995-01-02", "2001-11-04")})

    r = _rng(seed, 6)
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
    _write(p("events"), {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, n["customer"] // 10), k),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    r = _rng(seed, 7)
    k = n["documents"]
    texts = []
    for i in range(k):
        roll = r.random()
        if i > 0 and roll < 0.05:
            # Near-duplicate of an earlier document (the dedup kernels'
            # planted pairs) ...
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:
            # ... and the occasional exact copy.
            texts.append(texts[int(r.integers(0, i))])
        else:
            words = r.integers(0, len(WORDS), int(r.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 8)
    k = n["embeddings"]
    v = r.standard_normal((k, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32())})


# ---- etl_refresh ----------------------------------------------------------

def _geo(r):
    return f"{r.uniform(-90, 90):.4f}"


def _skewed(r, n, size):
    """``size`` draws from range(n) with weight 1/(rank+10): a heavy head
    without one rank taking most of the mass."""
    w = 1.0 / (np.arange(n) + 10.0)
    return r.choice(n, size, p=w / w.sum())


def etl_payloads(seed, n_users):
    """Return ({"users"|"posts"|"comments": json text}, truth).

    Records are 1:10:50. Comments-per-post follow a Zipf-like skew and
    commenter emails are drawn from a skewed pool that mixes registered and
    unregistered addresses. Edge cases (FIXTURES.md section A):

    * two emails tie at the maximum comment count, one of them belonging to
      no user (a NULL user_id through the right join);
    * two comments tie at the maximum body length;
    * address.geo is three levels deep, and some users carry a top-level
      ``address_city`` that collides with the flattened leaf name;
    * geo strings such as "-37.3159" and "0.0000".
    """
    r = _rng(seed, 100)
    n_posts, n_comments = 10 * n_users, 50 * n_users
    cities = [f"City{i}" for i in range(max(2, n_users // 20))]
    companies = [(f"Co{i}", f"phrase {i}", f"bs {i % 7}")
                 for i in range(max(2, n_users // 5))]
    users = []
    for uid in range(1, n_users + 1):
        lat, lng = _geo(r), _geo(r)
        if uid == 1:
            lat, lng = "-37.3159", "0.0000"
        elif uid == 2:
            lat, lng = "0.0000", "-37.3159"
        # Every 50th user shares user 1's address: the addresses dimension
        # dedups it.
        if uid % 50 == 0:
            addr = dict(users[0]["address"])
        else:
            addr = {"street": f"{int(r.integers(1, 999))} Main St",
                    "suite": f"Apt. {int(r.integers(1, 999))}",
                    "city": cities[int(r.integers(0, len(cities)))],
                    "zipcode": f"{int(r.integers(10000, 99999))}",
                    "geo": {"lat": lat, "lng": lng}}
        co = companies[int(r.integers(0, len(companies)))]
        u = {"id": uid, "name": f"User {uid}", "username": f"user{uid}",
             "email": f"user{uid}@example.com", "address": addr,
             "phone": f"1-555-{uid:06d}", "website": f"user{uid}.org",
             "company": {"name": co[0], "catchPhrase": co[1], "bs": co[2]}}
        if uid % 7 == 0:
            u["address_city"] = addr["city"]
        users.append(u)

    posts = [{"userId": int(r.integers(1, n_users + 1)), "id": pid,
              "title": f"title {pid}",
              "body": " ".join(WORDS[w] for w in r.integers(0, 30, 12))}
             for pid in range(1, n_posts + 1)]

    # Skewed comments per post: Zipf ranks over a seeded post permutation.
    post_of = r.permutation(n_posts)[_skewed(r, n_posts, n_comments)] + 1
    # Skewed commenter pool: 3/4 registered users, 1/4 unregistered.
    pool = ([f"user{i}@example.com" for i in range(1, n_users + 1)] +
            [f"guest{i}@mail.test" for i in range(n_users // 3)])
    pool_perm = r.permutation(len(pool))
    emails = [pool[pool_perm[i]] for i in _skewed(r, len(pool), n_comments)]
    lengths = r.integers(20, 200, n_comments)
    comments = [{"postId": int(post_of[i]), "id": i + 1,
                 "name": f"comment {i + 1}", "email": emails[i],
                 "body": ("lorem ipsum " * 20)[:int(lengths[i])].strip()
                 or "x"}
                for i in range(n_comments)]

    # Ties at the max comment count: a registered user and an unregistered
    # address each get max+1 comments, taken over from other commenters.
    top = ("user3@example.com", "ghost@nowhere.test")
    counts = {}
    for c in comments:
        counts[c["email"]] = counts.get(c["email"], 0) + 1
    target = max(counts.values()) + 1
    victims = [i for i in r.permutation(n_comments)
               if comments[i]["email"] not in top]
    for email in top:
        need = target - counts.get(email, 0)
        for _ in range(need):
            comments[victims.pop()]["email"] = email
    # Ties at the max body length: two comments on different posts.
    for cid in (n_comments // 3, 2 * n_comments // 3):
        comments[cid]["body"] = "z" * 250

    truth = etl_truth(users, posts, comments)
    payloads = {"users": json.dumps(users), "posts": json.dumps(posts),
                "comments": json.dumps(comments)}
    return payloads, truth


def etl_truth(users, posts, comments):
    """Expected warehouse answers, computed from the records themselves."""
    def addr_key(a):
        return (a["street"], a["suite"], a["city"], a["zipcode"],
                a["geo"]["lat"], a["geo"]["lng"])
    per_email, per_post = {}, {}
    for c in comments:
        per_email[c["email"]] = per_email.get(c["email"], 0) + 1
        per_post[c["postId"]] = per_post.get(c["postId"], 0) + 1
    top_n = max(per_email.values())
    uid_of = {u["email"]: u["id"] for u in users}
    longest = max(len(c["body"]) for c in comments)
    return {
        "rows": {
            "users": len(users), "posts": len(posts),
            "comments": len(comments),
            "addresses": len({addr_key(u["address"]) for u in users}),
            "companies": len({(u["company"]["name"],
                               u["company"]["catchPhrase"],
                               u["company"]["bs"]) for u in users}),
        },
        "top_commenters": sorted(
            [[uid_of.get(e), e, n] for e, n in per_email.items()
             if n == top_n], key=lambda t: t[1]),
        "comments_per_post": sorted([[p, n] for p, n in per_post.items()]),
        "longest_comments": sorted(
            [[c["id"], longest] for c in comments
             if len(c["body"]) == longest]),
        "records": len(users) + len(posts) + len(comments),
    }


def write_etl(seed, n_users, out_dir):
    """Write the three payloads and truth.json; return the payload bytes."""
    os.makedirs(out_dir, exist_ok=True)
    payloads, truth = etl_payloads(seed, n_users)
    total = 0
    for name, text in payloads.items():
        data = text.encode("utf-8")
        total += len(data)
        with open(os.path.join(out_dir, f"{name}.json"), "wb") as f:
            f.write(data)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return total


def write_warehouse(seed, n_users, out_dir):
    """A small loaded warehouse (users.parquet, comments.parquet in the
    normalized schema) for the set-up operation, which runs the warehouse
    queries without loading anything first."""
    payloads, _ = etl_payloads(seed, n_users)
    users = json.loads(payloads["users"])
    comments = json.loads(payloads["comments"])
    os.makedirs(out_dir, exist_ok=True)
    _write(os.path.join(out_dir, "users.parquet"), {
        "id": pa.array([u["id"] for u in users], pa.int64()),
        **{k: [u[k] for u in users]
           for k in ("name", "username", "email")},
        "address_uuid": [f"a{u['id']}" for u in users],
        **{k: [u[k] for u in users] for k in ("phone", "website")},
        "company_uuid": [f"c{u['id']}" for u in users]})
    _write(os.path.join(out_dir, "comments.parquet"), {
        "post_id": pa.array([c["postId"] for c in comments], pa.int64()),
        "id": pa.array([c["id"] for c in comments], pa.int64()),
        **{k: [c[k] for c in comments] for k in ("name", "email", "body")}})

