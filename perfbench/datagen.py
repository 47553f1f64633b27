"""Seeded input generators for the benchmark.

Two families, both written as parquet with one row group per table:

* ``star_schema`` — the ten analytic tables the query registry reads
  (region … embeddings), shaped like the TPC-H-ish star schema the
  registry was written against: same columns, types, cardinalities
  per scale factor and value domains.
* ``mmj_fixture`` — the 14 mmj source tables of
  ``g1_etl_spark.entities.schemas.ALL_SCHEMAS`` for the per-organization
  ``extract`` path, one dispensary (= one organization) per id.

The same arguments always write the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = np.array("a agg batch big column customer data fast filter group hash "
                 "join key line merge order part query row scan slow small "
                 "sort spark stream table the value vector window".split())
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.14, 0.15]

US_PER_DAY = 86_400_000_000


def _ts(start: str, offsets_us) -> pa.Array:
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + np.asarray(offsets_us, dtype=np.int64),
                    pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows))


def star_schema(out_dir: str, sf: float, seed: int) -> None:
    """Write region … embeddings at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(1, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * US_PER_DAY)})
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    # documents: random vocabulary text; 5% are another doc + " dup"
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_doc - 1)) % n_doc] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors scattered around one of ten label centroids
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(0, 1, (n_vec, 64)) + 0.6 * rng.normal(0, 1, (10, 64))[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------------- mmj ----

FIRST = ["Ana", "Ben", "Cara", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivan",
         "Jo", "Kai", "Lena", "Max", "Nia", "Omar", "Pia"]
LAST = ["Adams", "Brook", "Chen", "Diaz", "Evans", "Fox", "Garcia", "Hill",
        "Ito", "Jones", "Khan", "Lopez", "Moore", "Novak", "Ortiz", "Park"]
CITIES = [("Denver", "CO", "80202"), ("Boulder", "CO", "80301"),
          ("Portland", "OR", "97201"), ("Seattle", "WA", "98101"),
          ("Oakland", "CA", "94607"), ("Tacoma", "WA", "98402")]
CATEGORIES = [("Cannabis", 1), ("Paraphernalia", 2), ("Tincture", 2),
              ("Prerolled", 2), ("Seeds", 2), ("Drinks", 2), ("Edibles", 2),
              ("Concentrates", 1)]
ARROW_TYPES = {"LongType": pa.int64(), "IntegerType": pa.int32(),
               "DoubleType": pa.float64(), "StringType": pa.string(),
               "TimestampType": pa.timestamp("us")}


def mmj_fixture(out_dir: str, n_orgs: int, members_per_org: int,
                seed: int) -> list[int]:
    """Write the 14 mmj source tables for dispensaries 1..n_orgs.

    Dispensary ``d`` belongs to organization ``1000 + d``. Each holds
    ``members_per_org`` members plus employees, products, vendors and
    physicians in proportion. Returns the dispensary ids.
    """
    from g1_etl_spark.entities import schemas as S

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    rows: dict[str, list[tuple]] = {name: [] for name in S.ALL_SCHEMAS}
    ids = dict.fromkeys(S.ALL_SCHEMAS, 0)

    def next_id(table):
        ids[table] += 1
        return ids[table]

    def flag(p=0.5):
        return int(rng.random() < p)

    def ts(start="2014-01-01", days=2000):
        return int(np.datetime64(start, "us").astype(np.int64)
                   + rng.integers(0, days) * US_PER_DAY
                   + rng.integers(0, 86_400) * 1_000_000)

    def person():
        first, last = FIRST[rng.integers(16)], LAST[rng.integers(16)]
        return (first, last,
                f"{first.lower()}.{last.lower()}{rng.integers(1000)}@example.com")

    def place():
        city, state, zip_code = CITIES[rng.integers(len(CITIES))]
        return f"{rng.integers(1, 9999)} Main St", city, state, zip_code

    def phone():
        return (f"({rng.integers(200, 999)}) {rng.integers(200, 999)}-"
                f"{rng.integers(1000, 9999)}")

    def prices():
        return [float(p) for p in _money(rng, 5.0, 300.0, 7)]

    disp = list(range(1, n_orgs + 1))
    for d in disp:
        org = 1000 + d
        n_emp, n_items = max(2, members_per_org // 40), max(4, members_per_org // 10)
        n_vend, n_phys = max(2, members_per_org // 100), max(2, members_per_org // 80)
        physician_ids = [next_id("physicians") for _ in range(n_phys)]
        for pid in physician_ids:
            first, last, email = person()
            addr, city, state, zip_code = place()
            created = ts()
            rows["physicians"].append((
                pid, d, f"Dr. {first} {last}", email, created, created, addr,
                city, state, "US", zip_code, None, f"MD{rng.integers(10**6)}",
                phone()))
        for _ in range(members_per_org):
            first, last, email = person()
            addr, city, state, zip_code = place()
            created = ts()
            rows["customers"].append((
                next_id("customers"), d,
                f"pic{rng.integers(10**5)}.jpg" if flag(0.3) else None,
                f"{first} {last}", email, addr, phone(),
                ts("1950-01-01", 18_000) if flag(0.9) else None,
                int(rng.integers(1, 3)), f"R{rng.integers(10**7)}",
                int(rng.integers(1, 4)), flag(), flag(),
                f"DL{rng.integers(10**8)}", float(_money(rng, 0, 500, 1)[0]),
                flag(0.2), "late payment" if flag(0.1) else None, None,
                ts("2020-01-01", 2000) if flag(0.8) else None, created, created,
                physician_ids[rng.integers(n_phys)] if flag(0.7) else None,
                f"M-{rng.integers(10**6)}" if flag() else None, None,
                city, state, zip_code, org))
        for _ in range(n_emp):
            uid = next_id("users")
            first, last, email = person()
            created = ts()
            rows["users"].append((uid, email, first, last,
                                  f"{first.lower()}{uid}", org, created, created))
            rows["dispensary_users"].append((uid, d, flag(0.85),
                                             int(rng.integers(1, 5))))
        vendor_ids = [next_id("vendors") for _ in range(n_vend)]
        for vid in vendor_ids:
            addr, city, state, zip_code = place()
            rows["vendors"].append((
                vid, d, f"V{rng.integers(10**5)}" if flag() else None,
                f"Vendor {vid}", phone() if flag(0.8) else None,
                f"sales{vid}@example.com", "US", state, city, addr, zip_code,
                f"LIC{rng.integers(10**6)}", flag(),
                f"https://vendor{vid}.example.com"))
        category_ids = []
        for name, measurement in CATEGORIES:
            category_ids.append(next_id("categories"))
            rows["categories"].append((category_ids[-1], name, measurement, d))
        for _ in range(n_items):
            mid = next_id("menu_items")
            created = ts()
            rows["menu_items"].append((
                mid, vendor_ids[rng.integers(n_vend)], int(rng.integers(1, 4)), d,
                int(rng.integers(1, 500)), created, created,
                category_ids[rng.integers(len(category_ids))],
                f"{PART_ADJ[rng.integers(8)].title()} Kush {mid}",
                int(rng.integers(0, 101)), int(rng.integers(0, 101)),
                flag(0.1), int(rng.integers(0, 3)),
                f"item{mid}.png" if flag(0.6) else None,
                float(np.round(rng.uniform(0, 100), 1))))
            rows["menu_item_prices"].append(
                (next_id("menu_item_prices"), mid, d, *prices()))
            if flag(0.3):
                rows["menu_item_weedmaps_integrations"].append((mid,))
        rows["dispensary_details"].append((
            next_id("dispensary_details"), d, flag(), f"logo{d}.png",
            int(rng.integers(5, 60)), flag(), flag(), flag(), flag(), 1.0,
            0.01, 50.0, flag(), flag(), None, 3.5, 10.0))
        for _ in range(2):
            rows["memberships"].append((next_id("memberships"), d))
            rows["membership_prices"].append(
                (next_id("membership_prices"), ids["memberships"], *prices()))
        rows["red_flags"].append((d, 500.0, 250.0, 3.0, 2000.0))
        rows["taxes"].extend([(d, 8.25, "Sales"), (d, 2.0, "Excise")])

    for name, schema in S.ALL_SCHEMAS.items():
        types = [ARROW_TYPES[type(f.dataType).__name__] for f in schema.fields]
        columns = list(zip(*rows[name]))
        table = pa.table([pa.array(c, t) for c, t in zip(columns, types)],
                         names=[f.name for f in schema.fields])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return disp
