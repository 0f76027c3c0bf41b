"""Seeded input generator for the benchmark.

Writes, under one output directory:

- ``fixture/<table>.parquet``: the ten warehouse tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) at scale ``sf``,
  with the column names and types of the warehouse fixtures.
- ``env/log/tNNNNN.json`` and ``env/cdc/tNNNNN.json``: JSON-lines envelope
  files, one pair per tick (ticks 0..n).  Log envelopes follow the
  behaviour-log shape (page/display/action/start); CDC envelopes are
  Maxwell-style (insert/update/delete) over order_info, order_detail,
  user_info and base_province.
- ``env/boot_cdc.json``: the dimension bootstrap (every user and province,
  with update/delete/re-insert churn), emitted before tick 0.
- ``expect/dau_due.tsv`` (mid, dt, tick) and ``expect/ow_due.tsv``
  (detail_id, tick): the tick of each served row's latest contributing
  envelope, which tells the served rows of the backlog from the others.
- ``expect/requests.txt``: the distinct dashboard GETs, one path a line.
- ``expect/meta.json``: counts.

Envelope event time runs on one replay timeline starting 2024-01-01 UTC,
``ev_hours_per_tick`` hours per tick, so watermarks advance and state
expires within a run.  The same arguments give byte-identical files.
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86400000
ADJ = ["small", "large", "red", "blue", "green", "shiny", "matte", "heavy"]
NOUN = ["ring", "widget", "bolt", "gear", "nut", "screw", "spring", "valve"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("a the data table row column key value part line order customer "
         "query scan filter join agg group sort window hash merge batch "
         "stream spark fast slow big small index vector").split()
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]


def ts_str(ms):
    d = datetime.datetime.fromtimestamp(ms // 1000, datetime.timezone.utc)
    return d.strftime("%Y-%m-%d %H:%M:%S")


def day_of(ms):
    return ts_str(ms)[:10]


def write_table(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def fixture(rng, sf, out):
    """The ten tables; returns the pieces the envelope stream reuses."""
    ts = pa.timestamp("us")
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_orders = max(1500, int(1500000 * sf))
    n_events = max(1000, int(1000000 * sf))
    n_users = 150
    write_table(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write_table(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    cust = [(i, rng.randrange(25), round(rng.uniform(-999.99, 9999.99), 2),
             rng.choice(SEGMENTS)) for i in range(n_cust)]
    write_table(f"{out}/customer.parquet", {
        "c_custkey": pa.array([c[0] for c in cust], pa.int64()),
        "c_name": [f"Customer#{c[0]:09d}" for c in cust],
        "c_nationkey": pa.array([c[1] for c in cust], pa.int32()),
        "c_acctbal": [c[2] for c in cust],
        "c_mktsegment": [c[3] for c in cust]})
    write_table(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_supp)]})
    parts = [(i, f"{rng.choice(ADJ)} {rng.choice(NOUN)}",
              f"Brand#{rng.randrange(1, 26)}",
              rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]),
              rng.randrange(1, 51), round(rng.uniform(900, 2000), 2))
             for i in range(n_part)]
    write_table(f"{out}/part.parquet", {
        "p_partkey": pa.array([p[0] for p in parts], pa.int64()),
        "p_name": [p[1] for p in parts],
        "p_brand": [p[2] for p in parts],
        "p_type": [p[3] for p in parts],
        "p_size": pa.array([p[4] for p in parts], pa.int32()),
        "p_retailprice": [p[5] for p in parts]})
    orders, lines = [], []
    base = 788918400000  # 1995-01-01
    for o in range(n_orders):
        date = base + rng.randrange(2400) * DAY_MS
        ls = []
        for ln in range(1, rng.randrange(1, 8) + 1):
            pk = rng.randrange(n_part)
            qty = float(rng.randrange(1, 51))
            ls.append((o, pk, rng.randrange(n_supp), ln, qty,
                       round(qty * parts[pk][5], 2),
                       rng.randrange(11) / 100, rng.randrange(9) / 100,
                       rng.choice("ANR"), rng.choice("FO"),
                       (date + rng.randrange(1, 121) * DAY_MS) * 1000))
        lines += ls
        orders.append((o, rng.randrange(n_cust), rng.choice("FOP"),
                       round(sum(x[5] for x in ls), 2), date * 1000,
                       rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                   "4-NOT SPECIFIED", "5-LOW"])))
    write_table(f"{out}/orders.parquet", {
        "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
        "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
        "o_orderstatus": [o[2] for o in orders],
        "o_totalprice": [o[3] for o in orders],
        "o_orderdate": pa.array([o[4] for o in orders], ts),
        "o_orderpriority": [o[5] for o in orders]})
    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_returnflag", "l_linestatus", "l_shipdate"]
    types = [pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(),
             pa.float64(), pa.float64(), pa.float64(), pa.string(),
             pa.string(), ts]
    write_table(f"{out}/lineitem.parquet", {
        n: pa.array([x[i] for x in lines], t)
        for i, (n, t) in enumerate(zip(names, types))})
    span_us = 30 * DAY_MS * 1000
    evs = sorted((T0_MS * 1000 + rng.randrange(span_us),
                  rng.randrange(n_users), rng.choice(EVENT_TYPES),
                  round(rng.uniform(0, 50), 2), rng.randrange(100))
                 for _ in range(n_events))
    write_table(f"{out}/events.parquet", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([e[0] for e in evs], ts),
        "user_id": pa.array([e[1] for e in evs], pa.int64()),
        "event_type": [e[2] for e in evs],
        "value": [e[3] for e in evs],
        "props": [f'{{"k": {e[4]}}}' for e in evs]})
    docs = []
    for i in range(max(500, int(50000 * sf))):
        if docs and rng.random() < 0.03:  # exact duplicate of an earlier doc
            text = rng.choice(docs)[0]
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randrange(20, 90)))
        docs.append((text, rng.choice(LANGS), f"src{rng.randrange(20)}"))
    write_table(f"{out}/documents.parquet", {
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": [d[0] for d in docs],
        "lang": [d[1] for d in docs],
        "source": [d[2] for d in docs],
        "n_chars": pa.array([len(d[0]) for d in docs], pa.int64())})
    cents = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(max(500, int(20000 * sf)))]
    write_table(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(range(len(labels)), pa.int64()),
        "embedding": pa.array(
            [[c + rng.gauss(0, 0.35) for c in cents[lb]] for lb in labels],
            pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return cust, parts, lines, orders, evs


def log_env(rng, ev, mid, entry, ms, nation):
    """One behaviour-log envelope for fixture event ``ev``."""
    _, uid, etype, value, k = ev
    common = {"ar": str(nation), "ba": f"B{k % 7}", "ch": ["app", "web"][k % 2],
              "is_new": str(k % 2), "md": f"M{k % 5}", "mid": mid,
              "os": f"OS{k % 3}", "uid": str(uid), "vc": f"v{k % 4}"}
    if etype == "error":
        return {"common": common,
                "start": {"entry": "icon", "open_ad_id": str(k),
                          "loading_time": 1000 + k, "open_ad_ms": k,
                          "open_ad_skip_ms": 0}, "ts": ms}
    page = {"page_id": {"view": "good_detail", "click": "good_list",
                        "purchase": "payment", "signup": "register"}[etype],
            "item": str(k), "item_type": "sku_id",
            "during_time": int(value * 1000), "source_type": "promotion"}
    if not entry:
        page["last_page_id"] = "home"
    env = {"common": common, "page": page, "ts": ms}
    if etype == "view":
        env["displays"] = [{"display_type": "promotion",
                            "item": str(rng.randrange(1000)),
                            "item_type": "sku_id", "order": str(j + 1),
                            "pos_id": str(rng.randrange(5))}
                           for j in range(rng.randrange(1, 4))]
    if etype in ("click", "purchase"):
        env["actions"] = [{"action_id": "cart_add" if etype == "click"
                           else "pay", "item": str(k), "item_type": "sku_id",
                           "ts": ms}]
    return env


def cdc(table, typ, sec, data):
    return {"database": "gmall", "table": table, "type": typ, "ts": sec,
            "data": data}


def dumps(o):
    return json.dumps(o, separators=(",", ":"), sort_keys=True)


def envelopes(rng, out, cust, parts, lines, orders, evs, ticks,
              logs_per_tick, orders_per_tick, ev_hours_per_tick,
              mid_devices):
    ev_per_tick = ev_hours_per_tick * 3600000
    log_ticks = [[] for _ in range(ticks + 1)]
    cdc_ticks = [[] for _ in range(ticks + 1)]
    malformed = {"log": 0, "cdc": 0}

    def put(buf, tick, line):
        buf[min(tick, ticks)].append(line)

    def maybe_malformed(kind, buf, tick, line):
        if rng.random() < 0.005:
            buf[tick].append(line[: len(line) // 2])
            malformed[kind] += 1

    # ---- logs: fixture events in order, replayed on the tick timeline
    entered, dau_due, ev_i = set(), {}, 0
    for tick in range(ticks + 1):
        for j in range(logs_per_tick):
            ev = evs[ev_i % len(evs)]
            ev_i += 1
            ms = T0_MS + tick * ev_per_tick + (j * ev_per_tick) // logs_per_tick
            mid = f"mid_{ev[1]}_{ev[4] % mid_devices}"
            key = (mid, day_of(ms))
            entry = ev[2] != "error" and key not in entered
            if entry:
                entered.add(key)
                dau_due[key] = tick
            line = dumps(log_env(rng, ev, mid, entry, ms, cust[ev[1]][1]))
            log_ticks[tick].append(line)
            if rng.random() < 0.03:  # at-least-once redelivery
                log_ticks[tick].append(line)
            maybe_malformed("log", log_ticks, tick, line)

    # ---- CDC facts: orders + details on the same timeline
    by_order = {}
    for ln in lines:
        by_order.setdefault(ln[0], []).append(ln)
    ow_due, o_i = {}, 0
    for tick in range(ticks + 1):
        for j in range(orders_per_tick):
            o = orders[o_i % len(orders)]
            oid = o_i  # unique id even when the fixture orders wrap
            o_i += 1
            ms = T0_MS + tick * ev_per_tick + (j * ev_per_tick) // orders_per_tick
            sec, ct = ms // 1000, ts_str(ms)
            c = cust[o[1]]
            info_tick = tick + (1 if rng.random() < 0.05 else 0)
            info = dumps(cdc("order_info", "insert", sec, {
                "id": oid, "province_id": c[1], "order_status": "1001",
                "user_id": c[0], "total_amount": o[3], "create_time": ct}))
            put(cdc_ticks, info_tick, info)
            maybe_malformed("cdc", cdc_ticks, min(info_tick, ticks), info)
            for ln in by_order.get(o[0], []):
                did = oid * 8 + ln[3]
                # late details: up to two ticks behind their order, which
                # stays inside the 24 h join bound on the replay timeline
                d_tick = tick + (rng.randrange(1, 3) if rng.random() < 0.1
                                 else 0)
                qty = int(ln[4])
                put(cdc_ticks, d_tick, dumps(cdc("order_detail", "insert", sec, {
                    "id": did, "order_id": oid, "sku_id": ln[1],
                    "order_price": round(ln[5] / qty, 2), "sku_num": qty,
                    "sku_name": parts[ln[1]][1], "create_time": ct,
                    "split_total_amount": ln[5]})))
                ow_due[did] = min(max(info_tick, d_tick), ticks)
            if rng.random() < 0.10:
                put(cdc_ticks, tick + rng.randrange(1, 4), dumps(cdc(
                    "order_info", "update", sec + 60, {
                        "id": oid, "province_id": c[1], "order_status": "1002",
                        "user_id": c[0], "total_amount": o[3],
                        "create_time": ct})))
            if rng.random() < 0.02:
                put(cdc_ticks, tick + rng.randrange(2, 5), dumps(cdc(
                    "order_info", "delete", sec + 120, {"id": oid})))
        # enrichment-neutral dim upserts (a nickname change): routed and
        # re-read every batch, but gender/birthday never move mid-stream
        for _ in range(3):
            c = rng.choice(cust)
            put(cdc_ticks, tick, dumps(cdc(
                "user_info", "update", (T0_MS + tick * ev_per_tick) // 1000,
                user_data(c, nick=rng.randrange(10**6)))))

    # ---- dim bootstrap with insert/update/delete churn, all before tick 0
    boot, s0 = [], T0_MS // 1000 - 86400
    for c in cust:
        boot.append(dumps(cdc("user_info", "bootstrap-insert", s0,
                              user_data(c, gender="M"))))
        if rng.random() < 0.01:  # tombstone, then the key comes back
            boot.append(dumps(cdc("user_info", "delete", s0 + 10,
                                  {"id": c[0]})))
            boot.append(dumps(cdc("user_info", "insert", s0 + 20,
                                  user_data(c))))
        else:
            boot.append(dumps(cdc("user_info", "update", s0 + 10,
                                  user_data(c))))
    for n in range(25):
        boot.append(dumps(cdc("base_province", "insert", s0, {
            "id": n, "name": f"NATION_{n}", "iso_code": f"ISO-{n}",
            "iso_3166_2": f"CN-{n}", "area_code": str(100 + n)})))

    os.makedirs(f"{out}/env/log")
    os.makedirs(f"{out}/env/cdc")
    os.makedirs(f"{out}/expect", exist_ok=True)
    for kind, buf in (("log", log_ticks), ("cdc", cdc_ticks)):
        for t, ls in enumerate(buf):
            with open(f"{out}/env/{kind}/t{t:05d}.json", "w") as f:
                f.write("\n".join(ls) + "\n")
    with open(f"{out}/env/boot_cdc.json", "w") as f:
        f.write("\n".join(boot) + "\n")
    with open(f"{out}/expect/dau_due.tsv", "w") as f:
        for (mid, dt), t in sorted(dau_due.items()):
            f.write(f"{mid}\t{dt}\t{t}\n")
    with open(f"{out}/expect/ow_due.tsv", "w") as f:
        for did, t in sorted(ow_due.items()):
            f.write(f"{did}\t{t}\n")

    n_log = sum(len(b) for b in log_ticks[1:])
    n_cdc = sum(len(b) for b in cdc_ticks[1:])
    meta = {"ticks": ticks, "malformed_log": malformed["log"],
            "malformed_cdc": malformed["cdc"], "log_envelopes": n_log,
            "cdc_envelopes": n_cdc, "as_of": "2024-02-01"}
    with open(f"{out}/expect/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True, indent=1)
    return meta


def requests(rng, out, pool_size):
    """Dashboard GETs: ``pool_size`` distinct request paths."""
    pool = []
    while len(pool) < pool_size:
        if len(pool) % 2 == 0:
            p = f"/dauRealtime?td=2024-01-{rng.randrange(2, 31):02d}"
        else:
            p = (f"/statsByItem?itemName={rng.choice(ADJ)}+{rng.choice(NOUN)}"
                 f"&t={rng.choice(['segment', 'band'])}")
        if p not in pool:
            pool.append(p)
    os.makedirs(f"{out}/expect", exist_ok=True)
    with open(f"{out}/expect/requests.txt", "w") as f:
        f.writelines(f"{p}\n" for p in pool)


def user_data(c, gender=None, nick=None):
    d = {"id": c[0],
         "gender": gender or ("F" if c[3] in ("BUILDING", "HOUSEHOLD") else "M"),
         "birthday": f"{1960 + c[0] % 40}-{1 + c[0] % 12:02d}-{1 + c[0] % 28:02d}"}
    if nick is not None:
        d["name"] = f"nick{nick}"
    return d


def generate(out, seed, sf, ticks=0, logs_per_tick=0, orders_per_tick=0,
             ev_hours_per_tick=2, req_pool=12, mid_devices=4):
    """The fixture, then either ``ticks`` + 1 ticks of envelopes (the
    streaming workload) or the dashboard request pool (``queries``)."""
    rng = random.Random(seed)
    os.makedirs(f"{out}/fixture")
    parts = fixture(rng, sf, f"{out}/fixture")
    if ticks:
        return envelopes(rng, out, *parts, ticks, logs_per_tick,
                         orders_per_tick, ev_hours_per_tick, mid_devices)
    requests(rng, out, req_pool)
    return {}

