"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (fixed parquet writer settings, no wall-clock values),
which `digest()` makes checkable.

  corpus(seed, out)    sf0.1-shaped catalog corpus: the ten tables
                       `graft.tables.Tables` reads, with the row counts,
                       domains and planted duplicates of the sf0.1 corpus.
  etl(seed, out, ...)  Valorant-API-shaped fixture sets, one per cycle kind,
                       carrying every edge case the transforms handle, plus
                       the per-table row counts a correct load must produce.
  stream(seed, out)    the sf0.1 documents split into JSON files with exact
                       and near duplicates planted across files.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=1 << 22, write_statistics=True)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    words = np.asarray(WORDS, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def documents(rng, n, n_exact, n_near):
    """Word-soup documents with planted duplicates: `n_exact` later docs are
    verbatim copies of earlier ones, `n_near` are an earlier doc + " dup"."""
    texts = _doc_texts(rng, n)
    targets = rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)
    for t in targets[:n_exact]:
        texts[t] = texts[int(rng.integers(0, n // 2))]
    for t in targets[n_exact:]:
        texts[t] = texts[int(rng.integers(0, n // 2))] + " dup"
    return texts


def corpus(seed, out):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li = int(1500000 * SF), int(6000000 * SF)
    n_ev, n_doc, n_emb = int(1000000 * SF), int(50000 * SF), int(20000 * SF)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {b}" for a in ADJ for b in NOUN], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)}),
        f"{out}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string())}),
        f"{out}/events.parquet")
    texts = documents(rng, n_doc, 8, 250)
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet")
    return {t: pq.ParquetFile(f"{out}/{t}.parquet").metadata.num_rows for t in TABLES}


# --- ETL fixtures -----------------------------------------------------------

ROLES = ["Initiator", "Sentinel", "Duelist", "Controller"]
SLOTS = ["Ability1", "Ability2", "Grenade", "Ultimate", "Passive"]
CATS = ["Heavy", "Rifle", "Shotgun", "Sidearm", "Sniper", "SMG"]


def _uuid(rng):
    h = rng.bytes(16).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _text(rng, lo, hi):
    return " ".join(np.asarray(WORDS, dtype=object)[
        rng.integers(0, len(WORDS), int(rng.integers(lo, hi)))])


def etl_fixture(rng, scale):
    """One fixture set (endpoint -> envelope) and its expected table rows.

    scale=1 is the reference's size: 29 agents (one non-playable), 117
    abilities, 20 weapons (one Melee), 37 damage ranges, 23 maps, 14 game
    modes — 239 loaded rows. Larger scales repeat each record kind `scale`
    times.
    """
    agents, n_abil = [], 0
    for i in range(29 * scale):
        k = i % 29
        playable = k != 28
        rec = {"uuid": _uuid(rng), "displayName": f"Agent{i}",
               "displayIcon": f"https://media.example/agents/{i}.png",
               "isPlayableCharacter": playable}
        rec["role"] = None if k == 3 else {"displayName": ROLES[k % 4]}
        rec["description"] = (None if k == 5 else
                              _text(rng, 120, 160) if k == 7 else _text(rng, 8, 30))
        if k != 9:  # no abilities key at all
            n = 5 if k % 3 == 0 else 4
            rec["abilities"] = [
                {"slot": SLOTS[j % 5], "displayName": f"Ab{i}_{j}",
                 "description": None if j == 1 else
                 (_text(rng, 120, 160) if j == 2 and k == 11 else _text(rng, 4, 20))}
                for j in range(n)]
            if playable:
                n_abil += n
        agents.append(rec)
    weapons, n_dmg = [], 0
    for i in range(20 * scale):
        k = i % 20
        if k == 19:
            rec = {"uuid": _uuid(rng), "displayName": f"Melee{i}",
                   "category": "EEquippableCategory::Melee",
                   "displayIcon": f"https://media.example/weapons/{i}.png",
                   "shopData": None, "weaponStats": None}
        else:
            n = 0 if k in (4, 9) else 3 if k < 3 else 2
            ranges = [{"rangeStartMeters": 10 * j, "rangeEndMeters": 10 * (j + 1),
                       "headDamage": float(rng.integers(60, 260)),
                       "bodyDamage": int(rng.integers(20, 80)),
                       "legDamage": round(float(rng.uniform(15, 60)), 2)}
                      for j in range(n)]
            stats = {"fireRate": round(float(rng.uniform(1, 16)), 2),
                     "magazineSize": int(rng.integers(5, 100)),
                     "reloadTimeSeconds": round(float(rng.uniform(1, 5)), 2),
                     "equipTimeSeconds": round(float(rng.uniform(0.5, 2)), 2),
                     "firstBulletAccuracy": round(float(rng.uniform(0.1, 5)), 2),
                     "wallPenetration": "EWallPenetrationDisplayType::Medium",
                     "damageRanges": None if k == 4 else ranges}
            rec = {"uuid": _uuid(rng), "displayName": f"Weapon{i}",
                   "category": f"EEquippableCategory::{CATS[k % 6]}",
                   "displayIcon": f"https://media.example/weapons/{i}.png",
                   "shopData": {"cost": int(rng.integers(1, 60)) * 100},
                   "weaponStats": stats}
            n_dmg += n
        weapons.append(rec)
    maps = [{"uuid": _uuid(rng), "displayName": f"Map{i}",
             "coordinates": None if i % 23 == 2 else f"{i}°N,{i}°E",
             "splash": f"https://media.example/maps/{i}.png",
             "callouts": None if i % 23 in (2, 5) else
             [{"regionName": f"R{j}"} for j in range(int(rng.integers(1, 12)))]}
            for i in range(23 * scale)]
    modes = []
    for i in range(14 * scale):
        rec = {"uuid": _uuid(rng), "displayName": f"Mode{i}",
               "duration": None if i % 14 == 4 else f"{int(rng.integers(5, 40))}-9 MINS"}
        if i % 14 != 6:  # missing allowsMatchTimeouts
            rec["allowsMatchTimeouts"] = bool(i % 2)
        modes.append(rec)
    tiers = [{"uuid": _uuid(rng), "tiers": [{"tier": j} for j in range(5)]}
             for _ in range(3)]
    payload = {"agents": agents, "weapons": weapons, "maps": maps,
               "gamemodes": modes, "competitivetiers": tiers}
    records = sum(len(v) for v in payload.values())
    expect = {"agents": sum(1 for a in agents if a["isPlayableCharacter"]),
              "abilities": n_abil, "weapons": len(weapons),
              "weapon_damage": n_dmg, "maps": len(maps), "gamemodes": len(modes)}
    return payload, expect, records


def etl(seed, out, scales):
    """Write one fixture directory per scale; returns, per directory, the
    expected rows per table and the number of input records."""
    rng = np.random.default_rng([seed, 2])
    expected = {}
    for scale in scales:
        d = f"{out}/x{scale}"
        os.makedirs(d, exist_ok=True)
        payload, expect, records = etl_fixture(rng, scale)
        for ep, data in payload.items():
            with open(f"{d}/{ep}.json", "w") as f:
                json.dump({"status": 200, "data": data}, f, sort_keys=True)
        expected[f"x{scale}"] = {"rows": expect, "records": records}
    return expected


# --- streaming ingest feed ----------------------------------------------------

def stream(seed, out, n_files, n_docs=int(50000 * SF), exact_frac=0.04,
           near_frac=0.04):
    """Split `n_docs` documents over `n_files` JSON-lines files in a seeded
    order. Planted exact and near duplicates copy an EARLIER file's document,
    so only cross-batch state can catch them. Returns the planted ids."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    texts = _doc_texts(rng, n_docs)
    langs = np.asarray(LANGS, dtype=object)[rng.choice(5, n_docs, p=LANG_P)]
    ids = rng.permutation(n_docs)
    per = -(-n_docs // n_files)
    file_of = {int(d): i // per for i, d in enumerate(ids)}
    later = [int(d) for d in ids[per:]]
    picks = rng.choice(later, int(n_docs * (exact_frac + near_frac)), replace=False)
    n_exact = int(n_docs * exact_frac)
    exact, near = sorted(int(x) for x in picks[:n_exact]), sorted(int(x) for x in picks[n_exact:])
    # a planted doc copies an earlier-file doc that is itself never a copy
    planted = set(exact) | set(near)
    originals = np.array([d not in planted for d in ids])
    for kind, docs in (("exact", exact), ("near", near)):
        for d in docs:
            pool = ids[:file_of[d] * per][originals[:file_of[d] * per]]
            src = int(pool[int(rng.integers(0, len(pool)))])
            texts[d] = texts[src] if kind == "exact" else texts[src] + " dup"
    base = datetime.datetime(2024, 1, 1).timestamp()
    for f in range(n_files):
        path = f"{out}/part-{f:04d}.json"
        with open(path, "w") as fh:
            for d in ids[f * per:(f + 1) * per]:
                fh.write(json.dumps({"doc_id": int(d), "lang": langs[d],
                                     "text": texts[d]}) + "\n")
        os.utime(path, (base + f, base + f))
    return {"exact": exact, "near": near, "docs": n_docs, "files": n_files}


def digest(root):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

