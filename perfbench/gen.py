"""Seeded input generator for the benchmark workloads.

One process, at most `nproc` threads (gzip compression runs in a thread
pool; zlib releases the GIL). The same (workload, size, seed) always
writes byte-identical inputs, and `ensure` caches them under
`<cache>/<workload>-<size>-s<seed>-v<GEN_VERSION>` so generation stays
outside every timer and runs once per seed.

Layouts:
  daily_scan
    feeds/feed_r<risk>_<yyyymmdd>.csv.gz   header `ts,ip,risk_id,asn,cc`
    risk.csv, country.csv, asn.csv         reference dims (fixture shape)
    meta.json                              threshold, days, read pools
  corpus_week
    week0.parquet   the bootstrap batch that builds the standing corpus
                    (the same for every seed)
    week1.parquet   the timed weekly batch, with planted exact and near
                    copies of week0 documents
    lookups.parquet single-document probes, each a published document
                    with its last word replaced (its planted target)
    meta.json       planted ids and lookup targets
"""

import datetime as dt
import gzip
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np

GEN_VERSION = 7

# (workload, size) -> shape. "full" is what the benchmark measures;
# "smoke" is the benchmark's own quick test of every path and check.
SIZES = {
    ("daily_scan", "full"): dict(days=7, risks=4, pool=10000, hosts=6000,
                                 sightings=(2, 5), asns=5000,
                                 countries=60, zipf=1.1, threshold=100,
                                 dim_asn_share=0.5, dim_country_share=0.5),
    ("daily_scan", "smoke"): dict(days=3, risks=4, pool=3000, hosts=2000,
                                  sightings=(2, 4), asns=500,
                                  countries=30, zipf=1.1, threshold=20,
                                  dim_asn_share=0.5, dim_country_share=0.5),
    ("corpus_week", "full"): dict(week0=500, week1=300, exact=15, near=15,
                                  lookups=400, vocab=20000,
                                  length=(80, 160)),
    ("corpus_week", "smoke"): dict(week0=60, week1=40, exact=4, near=4,
                                   lookups=20, vocab=5000,
                                   length=(40, 80)),
}

FIRST_DAY = dt.date(2024, 2, 28)  # a Wednesday: a week spans two weeks
                                  # and two months of the cubes
RISK_DIM = [  # id, slug, title, amplification factor ("" = NULL)
    (1, "openntp", "Open NTP", "41"),
    (2, "openssdp", "Open SSDP", "556.9"),
    (3, "openmdns", "Open mDNS", ""),
    (100, "all", "All", "1"),
]  # risk 4 appears in the feeds but not in the dim: count_amplified 0


HMS = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
       for s in range(86400)]


def _codes(n):
    """n distinct two-letter upper-case country codes, 'T' excluded."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    all_codes = [a + b for a in letters for b in letters]
    return all_codes[:n]


def _ips(rng, n):
    v = rng.choice(2**32 - 2**24, size=n, replace=False) + 2**24
    return np.array([f"{x >> 24}.{(x >> 16) & 255}.{(x >> 8) & 255}."
                     f"{x & 255}" for x in v.tolist()], dtype=object)


def _gzip_write(path, text):
    with open(path, "wb") as raw, gzip.GzipFile(
            fileobj=raw, mode="wb", compresslevel=6, mtime=0) as f:
        f.write(text.encode())


def gen_etl(out, p, seed, workers):
    rng = np.random.default_rng(seed)
    countries = _codes(p["countries"])
    asn_ids = rng.choice(np.arange(1000, 400000), size=p["asns"],
                         replace=False)
    asn_home = rng.integers(0, len(countries), size=p["asns"])
    w = 1.0 / np.arange(1, p["asns"] + 1) ** p["zipf"]
    w = w[rng.permutation(p["asns"])]
    w /= w.sum()
    days = [FIRST_DAY + dt.timedelta(days=i) for i in range(p["days"])]
    os.makedirs(f"{out}/feeds")
    jobs = []
    for risk in range(1, p["risks"] + 1):
        # per-risk host pool: each host has one ASN; 10% of hosts sit
        # outside their ASN's home country (multi-country ASNs exercise
        # the repair's lowest-country-first rule)
        ips = _ips(rng, p["pool"])
        h_asn = rng.choice(p["asns"], size=p["pool"], p=w)
        h_cc = asn_home[h_asn].copy()
        away = rng.random(p["pool"]) < 0.1
        h_cc[away] = rng.integers(0, len(countries), size=away.sum())
        tail = [f"+00:00,{ip},{risk},{asn_ids[a]},{countries[c]}"
                for ip, a, c in zip(ips, h_asn.tolist(), h_cc.tolist())]
        for day in days:
            pick = rng.choice(p["pool"], size=p["hosts"], replace=False)
            lo, hi = p["sightings"]
            reps = rng.integers(lo, hi + 1, size=p["hosts"])
            rows = np.repeat(pick, reps)
            secs = rng.integers(0, 86400, size=rows.size)
            order = rng.permutation(rows.size)
            rows, secs = rows[order], secs[order]
            stamp = day.isoformat() + "T"
            lines = ["ts,ip,risk_id,asn,cc"]
            lines += [stamp + HMS[s] + tail[h]
                      for h, s in zip(rows.tolist(), secs.tolist())]
            jobs.append((f"{out}/feeds/feed_r{risk}_{day:%Y%m%d}.csv.gz",
                         "\n".join(lines) + "\n"))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        list(ex.map(lambda j: _gzip_write(*j), jobs))

    # reference dims: a share of the codes and ASNs, so repair has work
    with open(f"{out}/risk.csv", "w") as f:
        f.write("id,slug,title,is_archived,taxonomy,measurement_units,"
                "amplification_factor,description\n")
        for rid, slug, title, factor in RISK_DIM:
            f.write(f'{rid},{slug},{title},false,scan,count,{factor},'
                    f'"{title}\nscan feed"\n')
    keep_cc = sorted(rng.choice(len(countries),
                                size=int(len(countries) *
                                         p["dim_country_share"]),
                                replace=False).tolist())
    with open(f"{out}/country.csv", "w") as f:
        f.write("id,name,slug,region,continent\n")
        for i in keep_cc:
            c = countries[i]
            f.write(f"{c},Country {c},country-{c.lower()},Region,Continent\n")
        f.write("T,global,Global,,\n")
    keep_asn = sorted(rng.choice(p["asns"],
                                 size=int(p["asns"] * p["dim_asn_share"]),
                                 replace=False).tolist())
    with open(f"{out}/asn.csv", "w") as f:
        f.write("number,title,country\n")
        for i in keep_asn:
            f.write(f"{asn_ids[i]},Network {asn_ids[i]},"
                    f"{countries[asn_home[i]]}\n")
    # read pools: the heaviest ASNs, and their home countries
    pool_asns = np.argsort(-w)[:20]
    meta = dict(threshold=p["threshold"],
                days=[d.isoformat() for d in days],
                read_asns=[int(asn_ids[i]) for i in pool_asns.tolist()],
                read_countries=sorted({countries[asn_home[i]]
                                       for i in pool_asns.tolist()}))
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


def _write_docs(path, ids, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "source": pa.array(["synthetic"] * len(ids), type=pa.string()),
    }), path)


def _edit_one_word(rng, text, vocab):
    """Replace the last word: one 3-word shingle changes, so Jaccard to
    the original is >= 0.97 and 8 bands of 4 minhashes miss the pair
    with probability < 1e-8 -- planted copies are found on every seed."""
    toks = text.split(" ")
    new = toks[-1]
    while new == toks[-1]:
        new = vocab[int(rng.integers(0, len(vocab)))]
    toks[-1] = new
    return " ".join(toks)


def gen_corpus(out, p, seed):
    # the vocabulary and week0 (the standing corpus) do not depend on the
    # seed, so the standing corpus is built once per checkout; the timed
    # week and the lookups do
    rng0 = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng0.choice(letters, size=int(n)))
                    for n in rng0.integers(3, 10, size=p["vocab"] * 2)})
    vocab = [vocab[i] for i in rng0.permutation(len(vocab))[:p["vocab"]]]
    wz = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    wz /= wz.sum()

    def doc(rng):
        n = int(rng.integers(p["length"][0], p["length"][1] + 1))
        return " ".join(vocab[i] for i in rng.choice(len(vocab), size=n,
                                                      p=wz).tolist())

    n0, n1 = p["week0"], p["week1"]
    ids0 = list(range(1, n0 + 1))
    texts0 = [doc(rng0) for _ in ids0]
    rng = np.random.default_rng(seed)
    ids1 = list(range(n0 + 1, n0 + n1 + 1))
    texts1 = [doc(rng) for _ in ids1]
    # planted copies of week0 documents at distinct week1 positions
    slots = rng.choice(n1, size=p["exact"] + p["near"], replace=False)
    srcs = rng.choice(n0, size=p["exact"] + p["near"], replace=False)
    exact, near = [], []
    for k, (slot, src) in enumerate(zip(slots.tolist(), srcs.tolist())):
        if k < p["exact"]:
            texts1[slot] = texts0[src]
            exact.append([ids1[slot], ids0[src]])
        else:
            texts1[slot] = _edit_one_word(rng, texts0[src], vocab)
            near.append([ids1[slot], ids0[src]])
    planted = {a for a, _ in exact + near}
    published = ids0 + [i for i in ids1 if i not in planted]
    text_of = dict(zip(ids0 + ids1, texts0 + texts1))
    targets = rng.choice(published, size=p["lookups"]).tolist()
    lk_ids = [10**9 + i for i in range(p["lookups"])]
    lk_texts = [_edit_one_word(rng, text_of[t], vocab) for t in targets]
    _write_docs(f"{out}/week0.parquet", ids0, texts0)
    _write_docs(f"{out}/week1.parquet", ids1, texts1)
    _write_docs(f"{out}/lookups.parquet", lk_ids, lk_texts)
    with open(f"{out}/meta.json", "w") as f:
        json.dump(dict(exact=exact, near=near,
                       lookups=[[q, int(t)] for q, t in
                                zip(lk_ids, targets)]), f)


def ensure(cache, workload, size, seed, workers):
    """Return the input directory for (workload, size, seed), generating
    it first if the cache does not hold it yet."""
    d = f"{cache}/{workload}-{size}-s{seed}-v{GEN_VERSION}"
    if os.path.exists(f"{d}/meta.json"):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = SIZES[(workload, size)]
    if workload == "corpus_week":
        gen_corpus(tmp, p, seed)
    else:
        gen_etl(tmp, p, seed, workers)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
