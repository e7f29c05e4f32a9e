"""Seeded input generators for the benchmark workloads.

Every input the engine reads is made here, from the workload seed and
the scale factor `sf`: the same (seed, sf) gives byte-identical files.
Row counts, value ranges and the text and vector shapes follow the
repository's test tables at the same sf (TESTDATA.md), as measured by
`shape.py`; README.md lists both side by side. The curation inputs use a
fixed seed, because their results are checked against recorded values;
the workload seed only orders the queries.
"""
import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Six operator-heavy queries; see README.md for the four left out of the
# timed set (q103, q33, q133, q72) and why.
CURATION_QUERIES = [
    "q119_semantic_dedup_lsh", "q66_dedup_groups", "q223_text_index_bm25",
    "q139_span_index", "q62_tfidf", "q40_cosine_topk",
]
CURATION_SEED = 20240101

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
FACILITIES = ["wifi", "nước uống", "chăn đắp", "điều hòa", "ổ cắm sạc",
              "tivi", "khăn lạnh", "gối nằm", "búa phá kính", "dây an toàn",
              "rèm cửa", "đèn đọc sách", "toilet", "bình chữa cháy",
              "tai nghe", "wifi miễn phí", "nệm", "khẩu trang", "nước rửa tay",
              "bản đồ", "sạc không dây"]
PLACES = ["Bến xe Miền Đông", "TP. Hồ Chí Minh", "Đà Lạt", "Nha Trang",
          "Bến xe Mỹ Đình", "Hà Nội", "Vũng Tàu", "Cần Thơ"]
BUS_TYPES = ["Giường nằm 40 chỗ", "Limousine 9 chỗ", "Ghế ngồi 29 chỗ",
             "Giường nằm 34 chỗ (có WC)", "Limousine giường phòng 22 chỗ"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def nation() -> pa.Table:
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k,
                     "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": (k % 5).astype(np.int32)})


# ---- dag_daily -------------------------------------------------------

def table_rows(sf: float) -> dict:
    """Row counts of the test tables at `sf`, as TESTDATA.md's tables
    have them (documents and embeddings have floors of 500)."""
    return {"orders": int(1_500_000 * sf), "customer": int(150_000 * sf),
            "supplier": int(10_000 * sf), "documents": max(500, int(50_000 * sf)),
            "embeddings": max(500, int(20_000 * sf))}


def dag_sizes(sf: float) -> dict:
    """Rows landed per simulated day: an eighth of the orders as tickets,
    two fifths of the customers as reviewers and of the suppliers as
    facility lists. The test tables have no day structure; a day's cost
    is fixed per Spark job, so the share barely moves it (README.md)."""
    rows = table_rows(sf)
    return {"tickets": max(20, rows["orders"] // 8),
            "reviews": max(20, rows["customer"] * 2 // 5),
            "facilities": max(4, rows["supplier"] * 2 // 5)}


def make_dag(out: str, seed: int, sf: float, days: int) -> dict:
    """Raw crawler output for `days` simulated days: ticket CSV (from a
    seeded slice of orders), review JSON lines per language (from a
    slice of customers) and facility JSON lines (from a slice of
    suppliers), plus the `nation` table the bus-id dim derives from.
    Keys range over the test tables' row counts at `sf`; an order's
    customer is uniform over the customers and its price over the test
    orders' o_totalprice range (1,000-500,000), as there."""
    rng = np.random.default_rng(seed)
    size = dag_sizes(sf)
    _write(nation(), f"{out}/nation.parquet")
    rows = table_rows(sf)
    n_orders, n_cust, n_supp = rows["orders"], rows["customer"], rows["supplier"]
    start = dt.date(2024, 3, 1) + dt.timedelta(days=int(rng.integers(0, 200)))
    plan = []
    for d in range(days):
        date = start + dt.timedelta(days=d)
        tag = date.strftime("%d-%m-%Y")
        # tickets: a slice of orders
        ok = rng.choice(n_orders, size["tickets"], replace=False)
        cust = rng.integers(0, n_cust, ok.size)
        price = rng.integers(1, 500, ok.size) * 1000
        hour = rng.integers(0, 24, ok.size)
        minute = rng.integers(0, 12, ok.size) * 5
        trip = rng.integers(0, 7, ok.size)
        route = ok % 11
        dur_h = rng.integers(1, 14, ok.size)
        dur_m = rng.integers(0, 4, ok.size) * 15
        places = rng.integers(0, len(PLACES), (ok.size, 2))
        btype = rng.integers(0, len(BUS_TYPES), ok.size)
        path = f"{out}/incoming/ticket/{tag}.csv"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(["Start_Date", "Route", "Bus_Name", "Price",
                        "Departure_Time", "Departure_Place", "Arrival_Place",
                        "Duration", "Type_Bus"])
            for i in range(ok.size):
                w.writerow([
                    (date + dt.timedelta(days=int(trip[i]))).strftime("%d-%m-%Y"),
                    f"R{route[i]}", f"bus {cust[i] % 30}",
                    f"{price[i]:,} đ", f"{hour[i]:02d}:{minute[i]:02d}",
                    PLACES[places[i, 0]], PLACES[places[i, 1]],
                    f"{dur_h[i]}h{dur_m[i]:02d}m" if dur_m[i] else f"{dur_h[i]}h",
                    BUS_TYPES[btype[i]]])
        # reviews: a slice of customers; even keys vi, odd keys en.
        # Scores are multiples of 1/8, exact in binary, so sums and
        # averages do not depend on summation order.
        ck = rng.choice(n_cust, size["reviews"], replace=False)
        pos = rng.integers(0, 9, ck.size) / 8.0
        neg = rng.integers(0, 5, ck.size) / 8.0
        for lang, parity in (("vi", 0), ("en", 1)):
            path = f"{out}/incoming/review_{lang}/{tag}.json"
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                for i in np.nonzero(ck % 2 == parity)[0]:
                    f.write(json.dumps({"Bus_Name": f"bus {ck[i] % 30}",
                                        "POS": float(pos[i]),
                                        "NEG": float(neg[i])},
                                       ensure_ascii=False) + "\n")
        # facilities: a slice of suppliers, the list stringified the
        # way the reference's crawler writes it
        sk = rng.choice(n_supp, size["facilities"], replace=False)
        path = f"{out}/incoming/facility/{tag}.json"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for k in sk:
                n = int(rng.integers(0, 5))
                names = [FACILITIES[j] for j in
                         sorted(rng.choice(len(FACILITIES), n, replace=False))]
                f.write(json.dumps({"Id": int(k), "Bus_Name": f"bus {k % 30}",
                                    "Facilities": str(names)},
                                   ensure_ascii=False) + "\n")
        plan.append({"tag": tag, "date": date.isoformat(),
                     "ticket_rows": int(ok.size), "review_rows": int(ck.size)})
    return {"days": plan}


# ---- curation --------------------------------------------------------

def make_curation(out: str, sf: float) -> dict:
    """Documents, embeddings and customer/supplier name tables shaped
    like the test tables: documents of 10-99 words drawn uniformly from
    the same 31-word vocabulary, 5% of them near duplicates (another
    document with "dup" appended) and 0.16% exact copies; unit-norm 64-d
    embeddings with ten labels that carry no signal."""
    rng = np.random.default_rng(CURATION_SEED)
    rows = table_rows(sf)
    n_docs, n_emb = rows["documents"], rows["embeddings"]
    n_cust, n_supp = max(150, rows["customer"]), max(10, rows["supplier"])
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    originals = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = originals[(i + 1 + int(rng.integers(0, n_docs - 1))) % n_docs] + " dup"
    for i in rng.choice(n_docs, int(n_docs * 0.0016), replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n_docs - 1))) % n_docs]
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vec = rng.normal(0, 1, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": labels,
    }), f"{out}/embeddings.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": list(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{out}/supplier.parquet")
    return {}


def curation_order(seed: int) -> list:
    return [CURATION_QUERIES[i] for i in
            np.random.default_rng(seed).permutation(len(CURATION_QUERIES))]
