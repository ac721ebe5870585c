"""Seeded input generators for the lakehouse benchmark.

Every generator is a pure function of ``seed`` (and its size arguments): the
same seed gives byte-identical inputs. Each returns the inputs the engine
receives plus the ground truth the benchmark checks outputs against; the
engine never sees the ground truth.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

# (province, district, wards) — the address hierarchy crawled listings carry.
GEO = [
    ("Hồ Chí Minh", "quận 1", ["bến nghé", "bến thành", "đa kao", "tân định"]),
    ("Hồ Chí Minh", "quận 3", ["võ thị sáu", "phường 9", "phường 14"]),
    ("Hồ Chí Minh", "bình thạnh", ["phường 1", "phường 2", "phường 25", "phường 26"]),
    ("Hồ Chí Minh", "thủ đức", ["an phú", "thảo điền", "linh trung", "hiệp bình chánh"]),
    ("Hà Nội", "hoàn kiếm", ["hàng bài", "tràng tiền", "hàng trống"]),
    ("Hà Nội", "cầu giấy", ["dịch vọng", "nghĩa đô", "yên hòa", "trung hòa"]),
    ("Hà Nội", "đống đa", ["láng hạ", "ô chợ dừa", "kim liên"]),
    ("Đà Nẵng", "hải châu", ["hòa cường bắc", "thạch thang", "phước ninh"]),
    ("Đà Nẵng", "liên chiểu", ["hòa khánh bắc", "hòa minh"]),
    ("Hải Phòng", "lê chân", ["an biên", "dư hàng kênh"]),
    ("Bình Dương", "thủ dầu một", ["phú cường", "hiệp thành"]),
    ("Khánh Hòa", "nha trang", ["lộc thọ", "vĩnh hải", "phước hải"]),
    ("Cần Thơ", "ninh kiều", ["an hòa", "xuân khánh"]),
    ("Lâm Đồng", "đà lạt", ["phường 1", "phường 8", "phường 10"]),
]
STREETS = ["lê lợi", "nguyễn huệ", "trần hưng đạo", "hai bà trưng", "lý thường kiệt",
           "điện biên phủ", "võ văn kiệt", "phạm văn đồng", "nguyễn trãi", "cách mạng tháng 8"]
LEGAL = ["Sổ đỏ", "Sổ hồng riêng", "Sổ hồng", "Đang chờ sổ", "Giấy tay", None]
DIRECTIONS = ["Đông", "Tây", "Nam", "Bắc", "Đông Nam", "Tây Bắc", None]
TITLES = ["Bán nhà", "Căn hộ", "Đất nền", "Nhà phố", "Biệt thự", "Shophouse"]
# Keys that appear from some crawl day on — the schema drift bronze absorbs.
DRIFT_KEYS = [("Tình trạng nội thất", ["Nội thất đầy đủ", "Nhà trống", "Cơ bản"]),
              ("Loại hình nhà ở", ["Nhà mặt phố", "Nhà ngõ, hẻm", "Căn hộ chung cư"]),
              ("Đặc điểm nhà/đất", ["Hẻm xe hơi", "Mặt tiền", "Nở hậu"])]
DAY0 = (2024, 3, 1)


def _price(rng: random.Random) -> tuple[str | None, bool]:
    """A raw price in one of the crawl's shapes, and whether silver parses
    it to a usable (0 < p < 1000 billion) price."""
    r = rng.random()
    if r < 0.50:
        v = rng.randint(8, 150) / 10
        return (f"{v:.1f}".replace(".", ",") + " tỷ"), True
    if r < 0.72:
        return f"{rng.randint(300, 990)} triệu", True
    if r < 0.82:
        return f"{rng.randint(2, 40)} tỷ", True
    if r < 0.90:
        return "Thỏa thuận", False
    if r < 0.96:
        return None, False
    return str(rng.randint(1200, 5000)), False  # raw number read as billions: outlier


@dataclass
class Listing:
    list_id: str
    row: dict
    clean: bool  # lands in gold.fct_properties (VALID, priced, addressed)


def listing_row(rng: random.Random, list_id: str, day: int) -> Listing:
    province, district, wards = GEO[rng.randrange(len(GEO))]
    ward = rng.choice(wards)
    price, priced = _price(rng)
    no_addr = rng.random() < 0.05
    # the street address names its ward and district, so one address string
    # never maps to two locations
    addr = None if no_addr else f"{rng.randint(1, 199)}  {rng.choice(STREETS)}, {ward}, {district}"
    area = rng.randint(25, 400) + rng.choice([0, 0.5])
    row = {
        "list_id": list_id,
        "title": f"{rng.choice(TITLES)} {district} {list_id[-4:]}",
        "price": price,
        "images": [f"https://img.example/{list_id}/{i}.jpg" for i in range(rng.randint(1, 3))],
        "Địa chỉ": addr,
        "Diện tích": f"{area:g}".replace(".", ",") + rng.choice([" m²", ""]),
        "Chiều ngang": f"{rng.randint(3, 12)} m",
        "Tổng số tầng": str(rng.randint(1, 6)),
        "Số phòng ngủ": f"{rng.randint(1, 6)} phòng",
        "Số phòng vệ sinh": str(rng.randint(1, 5)),
        "Giấy tờ pháp lý": rng.choice(LEGAL),
        "Hướng cửa chính": rng.choice(DIRECTIONS),
        "Phường, thị xã, thị trấn": ward,
        "Quận, Huyện": district,
        "Tỉnh, thành phố": province,
        # crawl day + second within it; _stamp turns them into the mtime
        "_day": day,
        "_sec": rng.randint(0, 86_399),
    }
    for k, (key, vals) in enumerate(DRIFT_KEYS):
        if day >= k + 1:
            row[key] = rng.choice(vals)
    return Listing(list_id, row, clean=priced and not no_addr)


def _stamp(row: dict) -> dict:
    t = dt.datetime(*DAY0) + dt.timedelta(days=row.pop("_day"), seconds=row.pop("_sec"))
    row["file_modification_time"] = t.strftime("%Y-%m-%d %H:%M:%S")
    return row


class ListingStream:
    """Daily crawl batches as JSONL with the crawl's Vietnamese keys, made
    one batch at a time so a run generates only what it ingests.

    Batch ``b`` is crawl day ``b``: ``per_batch`` ids, of which a ``relist``
    share re-list earlier ``list_id``s (new price and time; keep-latest must
    pick the re-list) and the rest are new. About 2% of ids also carry an
    older duplicate row inside the batch, so in-batch keep-latest runs too.
    The stream keeps the ground truth: every id seen and its latest row."""

    def __init__(self, seed: int, out_dir: str, per_batch: int, relist: float = 0.25):
        self.seed = seed
        self.rng = random.Random(f"listings:{seed}")
        self.out_dir = out_dir
        self.per_batch = per_batch
        self.relist = relist
        self.seen: list[str] = []
        self.latest: dict[str, Listing] = {}
        self.batches = 0
        self.input_bytes = 0
        os.makedirs(out_dir, exist_ok=True)

    def next_batch(self) -> tuple[str, int]:
        """Write the next day's batch; return its path and row count."""
        rng, b = self.rng, self.batches
        picks = rng.sample(self.seen, min(int(self.per_batch * self.relist), len(self.seen)))
        fresh = [f"{self.seed % 1000:03d}{len(self.seen) + i + 1:07d}"
                 for i in range(self.per_batch - len(picks))]
        rows: list[dict] = []
        for lid in picks + fresh:
            ls = listing_row(rng, lid, b)
            if rng.random() < 0.02:  # an older in-batch duplicate of the same id
                dup = listing_row(rng, lid, b)
                dup.row["_sec"] = 0
                ls.row["_sec"] = max(ls.row["_sec"], 1)
                rows.append(_stamp(dup.row))
            rows.append(_stamp(ls.row))
            self.latest[lid] = ls
        self.seen.extend(fresh)
        rng.shuffle(rows)
        path = os.path.join(self.out_dir, f"crawl_day_{b:03d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps(r, ensure_ascii=False) + "\n")
        self.batches += 1
        self.input_bytes += os.path.getsize(path)
        return path, len(rows)


# --------------------------------------------------------------------- Delta


@dataclass
class DeltaInputs:
    base: list[tuple]
    # per CDC batch: (upsert rows, (lo, hi) id range the batch expires)
    batches: list[tuple[list[tuple], tuple[int, int]]]
    districts: list[str]
    schema: str = "list_id long, district string, price double, area double, version int"


def _delta_row(rng: random.Random, i: int, districts: list[str], version: int) -> tuple:
    return (i, rng.choice(districts), round(rng.uniform(0.5, 50), 3),
            float(rng.randint(25, 400)), version)


def delta_cdc(seed: int, base_rows: int, n_batches: int, batch_rows: int,
              expire: int) -> DeltaInputs:
    """A base listing table plus CDC batches. Each batch upserts
    ``batch_rows`` rows (half updates of recent ids, since change feeds
    touch recent listings; half new ids) and then expires the ``expire``
    oldest ids still listed, as one id-range delete."""
    rng = random.Random(f"delta:{seed}")
    districts = sorted({d for _p, d, _w in GEO})
    base = [_delta_row(rng, i, districts, 0) for i in range(base_rows)]
    next_id, expired_to = base_rows, 0
    batches = []
    for b in range(1, n_batches + 1):
        recent = range(max(expired_to, next_id - 4 * batch_rows), next_id)
        upd = rng.sample(recent, min(batch_rows // 2, len(recent)))
        rows = [_delta_row(rng, i, districts, b) for i in upd]
        for _ in range(batch_rows - len(upd)):
            rows.append(_delta_row(rng, next_id, districts, b))
            next_id += 1
        batches.append((rows, (expired_to, expired_to + expire - 1)))
        expired_to += expire
    return DeltaInputs(base=base, batches=batches, districts=districts)


# -------------------------------------------------------------------- corpus

_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "vi": ["của", "và", "là", "có", "không", "được", "trong", "cho", "người", "một"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
}
_SYL = ["ba", "ko", "ri", "ten", "mal", "sor", "vi", "nu", "pe", "lam", "dor", "chi",
        "ta", "gen", "mo", "ru", "sel", "fa", "qui", "zan", "bel", "tho", "ng", "anh"]


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    eval_docs: list[tuple[int, str]]
    expected_kept: set[int]
    planted_removed: set[int]   # exact dups, near dups and contaminated docs


def vocab(seed: int, n: int = 20_000) -> list[str]:
    """A seeded vocabulary of ``n`` distinct made-up words."""
    rng = random.Random(f"vocab:{seed}")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc(rng: random.Random, lexicon: list[str], lang: str, n_words: int) -> list[str]:
    stop = _STOP[lang]
    return [rng.choice(stop) if rng.random() < 0.3 else rng.choice(lexicon)
            for _ in range(n_words)]


def corpus(seed: int, lexicon: list[str], n_base: int, n_exact: int, n_near: int,
           n_eval: int, n_contam: int) -> Corpus:
    """A multi-language corpus with planted duplicates and contamination.

    ``n_base`` distinct documents (60-90 words over ``lexicon``, a 20k-word
    vocabulary, so unrelated docs share no 3-shingles to speak of);
    ``n_exact`` verbatim copies and ``n_near`` copies with 3 words replaced
    (3-shingle Jaccard about 0.8) under higher ids than their originals;
    ``n_eval`` eval documents, ``n_contam`` of which are quoted verbatim
    (25 words) inside base documents. The kept set must be exactly the base documents that
    quote no eval document."""
    rng = random.Random(f"corpus:{seed}")
    langs = list(_STOP)
    base = [_doc(rng, lexicon, langs[i % len(langs)], rng.randint(60, 90)) for i in range(n_base)]
    evals = [_doc(rng, lexicon, "en", 40) for _ in range(n_eval)]
    contam_ids = set(rng.sample(range(n_base), n_contam))
    for j, i in enumerate(sorted(contam_ids)):
        quote = evals[j % n_eval][5:30]
        at = rng.randint(0, len(base[i]))
        base[i] = base[i][:at] + quote + base[i][at:]
    docs = [(i, " ".join(w)) for i, w in enumerate(base)]
    clean = [i for i in range(n_base) if i not in contam_ids]
    next_id = n_base
    planted: set[int] = set(contam_ids)
    for i in rng.sample(clean, n_exact):
        docs.append((next_id, docs[i][1]))
        planted.add(next_id)
        next_id += 1
    for i in rng.sample(clean, n_near):
        words = list(base[i])
        for p in rng.sample(range(len(words)), 3):
            words[p] = rng.choice(lexicon)
        docs.append((next_id, " ".join(words)))
        planted.add(next_id)
        next_id += 1
    rng.shuffle(docs)
    eval_docs = [(10_000_000 + j, " ".join(w)) for j, w in enumerate(evals)]
    return Corpus(docs, eval_docs, set(clean), planted)


@dataclass
class Embeddings:
    corpus_ids: list[int]
    corpus_vecs: list[list[float]]
    query_ids: list[int]
    query_vecs: list[list[float]]
    planted: dict[int, int]  # query id -> corpus id of its planted neighbour


def embeddings(seed: int, n_corpus: int, n_queries: int, dim: int) -> Embeddings:
    """Unit vectors with one planted neighbour per query: corpus vector
    ``query + 0.02 * noise``, renormalised. Its cosine to the query is
    above 0.99, while two random 64-dim unit vectors have cosine 0 with
    standard deviation 1/8."""
    import numpy as np

    rs = np.random.default_rng(seed)
    c = rs.standard_normal((n_corpus, dim))
    q = rs.standard_normal((n_queries, dim))
    slots = rs.choice(n_corpus, size=n_queries, replace=False)
    c[slots] = q + 0.02 * rs.standard_normal((n_queries, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    q_ids = [1_000_000_000 + j for j in range(n_queries)]
    return Embeddings(
        corpus_ids=list(range(n_corpus)),
        corpus_vecs=np.round(c, 6).tolist(),
        query_ids=q_ids,
        query_vecs=np.round(q, 6).tolist(),
        planted={q_ids[j]: int(slots[j]) for j in range(n_queries)},
    )

