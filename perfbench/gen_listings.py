"""Seeded synthetic listings corpus (FIXTURES.md section 1) with its truth.

Writes the two landing-zone serializations the reference crawler
produced:

- one pretty-printed, non-ASCII JSON file per record under
  `house/{YYYY-MM-DD}/house_{id}_{ts}.json`;
- one multiLine CSV `house_data_{ts}.csv` with a header, quoted
  multi-line fields and NULLs as empty strings.

The corpus plants what the silver transform and the quarantine gate
must handle:

- ids present in both formats (identical rows) and in one only;
- re-posts: the same id again in a later date directory with a later
  `post_time` (the silver dedup keeps the later one);
- NaN `lat`, out-of-window and NULL `post_time` (quarantined);
- zero price, zero area and NULL area (kept, `price_per_m2` NULL).

`generate` returns the truth a correct pipeline must reproduce: the
lake ids, the quarantine count per reason, and per district of the
lake its rows, its `price_per_m2` NULLs and the sum of the rest.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import os

import numpy as np

COLUMNS = [
    "id", "title", "description", "price", "area_m2", "price_per_m2", "region",
    "district", "ward", "street", "lat", "lng", "property_type", "category",
    "post_time", "images",
]
DISTRICTS = [
    "Quận Hà Đông", "Quận Cầu Giấy", "Quận Đống Đa", "Quận Hai Bà Trưng", "Quận Hoàng Mai",
    "Quận Thanh Xuân", "Quận Long Biên", "Quận Nam Từ Liêm", "Quận Bắc Từ Liêm", "Quận Tây Hồ",
    "Quận Ba Đình", "Quận Hoàn Kiếm", "Huyện Gia Lâm", "Huyện Đông Anh", "Huyện Thanh Trì",
    "Huyện Hoài Đức", "Huyện Sóc Sơn", "Huyện Mê Linh", "Huyện Chương Mỹ", "Huyện Thường Tín",
    "Huyện Đan Phượng", "Huyện Quốc Oai", "Huyện Thạch Thất",
]
CATEGORIES = [1020, 1010, 1030, 1040, 1050]
CATEGORY_P = [175 / 317, 65 / 317, 29 / 317, 26 / 317, 22 / 317]
WARDS = ["Phường Mỗ Lao", "Phường Dịch Vọng", "Phường Láng Hạ", "Xã Kim Chung", "Phường Vĩnh Tuy", "Xã Tân Lập"]
STREETS = ["Đường Nguyễn Trãi", "Đường Láng", "Đường Trần Duy Hưng", "Đường Giải Phóng", "Đường Lê Văn Lương"]
TITLE_WORDS = (
    "Cho thuê chung cư căn hộ nhà riêng mặt phố giá rẻ đẹp rộng thoáng full nội thất "
    "chính chủ gần trường học tầng cao view hồ sổ đỏ bán gấp"
).split()
DESC_LINES = [
    "Căn hộ thoáng mát, đầy đủ nội thất.",
    "Gần chợ, trường học, bệnh viện.",
    "Giờ giấc tự do, không chung chủ.",
    "Liên hệ chính chủ, miễn trung gian.",
    "An ninh 24/7, có chỗ để xe máy.",
    "Pháp lý rõ ràng, sổ hồng riêng.",
    "Ban công hướng Đông Nam, nhiều ánh sáng.",
]
DATES = [dt.date(2025, 12, 8) + dt.timedelta(days=i) for i in range(5)]
TS_VALID_LO = dt.datetime(1990, 1, 1, tzinfo=dt.timezone.utc)
TS_VALID_HI = dt.datetime(2035, 1, 1, tzinfo=dt.timezone.utc)
REASON_TS = "ts_out_of_bounds"
REASON_LAT = "nonfinite_measure:lat"


def _epoch_ms(d: dt.datetime) -> int:
    return int(d.timestamp() * 1000)


def _record(rng: np.random.Generator, rid: int, day: dt.date) -> dict:
    district = DISTRICTS[0] if rng.random() < 0.55 else DISTRICTS[int(rng.integers(1, len(DISTRICTS)))]
    price = int(math.exp(rng.uniform(math.log(1.2e6), math.log(6.7e10))))
    area = int(rng.integers(73, 130))
    lines = list(rng.choice(DESC_LINES, int(rng.integers(2, 6)), replace=False))
    description = "\n".join(lines) if rng.random() < 0.95 else " ".join(lines)
    title = " ".join(rng.choice(TITLE_WORDS, int(rng.integers(8, 20))))
    start = dt.datetime.combine(day, dt.time(1, 0), tzinfo=dt.timezone.utc)
    return {
        "id": rid,
        "title": title,
        "description": description,
        "price": price,
        "area_m2": area,
        "price_per_m2": None,
        "region": "Hà Nội",
        "district": district,
        "ward": str(rng.choice(WARDS)),
        "street": str(rng.choice(STREETS)),
        "lat": round(float(rng.uniform(20.65, 21.28)), 6),
        "lng": round(float(rng.uniform(105.46, 105.94)), 6),
        "property_type": None,
        "category": int(rng.choice(CATEGORIES, p=CATEGORY_P)),
        "post_time": _epoch_ms(start) + int(rng.integers(0, 3 * 3600 * 1000)),
        "images": int(rng.integers(0, 13)),
    }


def _plant(rng: np.random.Generator, rec: dict, kind: str) -> None:
    if kind == "nan_lat":
        rec["lat"] = float("nan")
    elif kind == "ts_high":
        rec["post_time"] = _epoch_ms(TS_VALID_HI) + int(rng.integers(0, 86_400_000))
    elif kind == "ts_low":
        rec["post_time"] = _epoch_ms(TS_VALID_LO) - int(rng.integers(1, 86_400_000))
    elif kind == "ts_null":
        rec["post_time"] = None
    elif kind == "zero_price":
        rec["price"] = 0
    elif kind == "zero_area":
        rec["area_m2"] = 0
    elif kind == "null_area":
        rec["area_m2"] = None


def _derive_price_per_m2(rec: dict) -> None:
    # CrawlData.py:67-69 truthiness: price and area and area > 0
    price, area = rec["price"], rec["area_m2"]
    rec["price_per_m2"] = price / area if price and area and area > 0 else None


def _csv_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def _in_window(post_time: int | None) -> bool:
    return post_time is not None and _epoch_ms(TS_VALID_LO) <= post_time < _epoch_ms(TS_VALID_HI)


def generate(out_dir: str, n_records: int, seed: int) -> dict:
    """Write the corpus under `out_dir` and return its description and truth."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(np.arange(100_000_000, 130_000_000), n_records, replace=False)
    planted = ["nan_lat", "ts_high", "ts_low", "ts_null", "zero_price", "zero_area", "null_area"]
    # 1 % of records per planted defect; the rest clean
    kinds = rng.choice(planted + ["clean"], n_records, p=[0.01] * len(planted) + [1 - 0.01 * len(planted)])
    # where each id lands: JSON only, CSV only, or both (identical rows)
    where = rng.choice(["json", "csv", "both"], n_records, p=[0.5, 0.1, 0.4])
    json_rows: list[tuple[dt.date, dict]] = []
    csv_rows: list[dict] = []
    for rid, kind, fmt in zip(ids.tolist(), kinds.tolist(), where.tolist()):
        day_idx = int(rng.integers(0, len(DATES) - 1))
        rec = _record(rng, rid, DATES[day_idx])
        _plant(rng, rec, kind)
        _derive_price_per_m2(rec)
        if fmt in ("json", "both"):
            json_rows.append((DATES[day_idx], rec))
        if fmt in ("csv", "both"):
            csv_rows.append(rec)
        if kind == "clean" and rng.random() < 0.03:
            # re-post: same id, a later crawl day, a later post_time
            later = dict(rec)
            later["post_time"] = rec["post_time"] + 86_400_000
            later["price"] = int(rec["price"] * 0.95)
            _derive_price_per_m2(later)
            json_rows.append((DATES[day_idx + 1], later))

    house = os.path.join(out_dir, "house")
    for day in DATES:
        os.makedirs(os.path.join(house, day.isoformat()), exist_ok=True)
    json_bytes = 0
    for i, (day, rec) in enumerate(json_rows):
        path = os.path.join(house, day.isoformat(), f"house_{rec['id']}_{i}.json")
        text = json.dumps(rec, ensure_ascii=False, indent=4)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        json_bytes += len(text.encode("utf-8"))
    csv_dir = os.path.join(out_dir, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    csv_path = os.path.join(csv_dir, "house_data_0.csv")
    with open(csv_path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLUMNS)
        for rec in csv_rows:
            w.writerow([_csv_cell(rec[c]) for c in COLUMNS])
    csv_bytes = os.path.getsize(csv_path)

    # truth: silver keeps, per id, the row with the latest post_time
    # (NULLs last); the quarantine gate then checks time before lat
    winners: dict[int, dict] = {}
    for rec in [r for _, r in json_rows] + csv_rows:
        cur = winners.get(rec["id"])
        if cur is None or (rec["post_time"] is not None and (cur["post_time"] is None or rec["post_time"] > cur["post_time"])):
            winners[rec["id"]] = rec
    reasons = {REASON_TS: 0, REASON_LAT: 0}
    lake_ids: list[int] = []
    per_district: dict[str, list[int]] = {}
    for rid, rec in winners.items():
        if not _in_window(rec["post_time"]):
            reasons[REASON_TS] += 1
        elif isinstance(rec["lat"], float) and math.isnan(rec["lat"]):
            reasons[REASON_LAT] += 1
        else:
            lake_ids.append(rid)
            counts = per_district.setdefault(rec["district"], [0, 0, 0.0])
            counts[0] += 1
            if rec["price_per_m2"] is None:
                counts[1] += 1
            else:
                counts[2] += rec["price_per_m2"]
    return {
        "json_dir": os.path.join(house, "*"),
        "csv_path": csv_path,
        "json_files": len(json_rows),
        "csv_rows": len(csv_rows),
        "input_rows": len(json_rows) + len(csv_rows),
        "input_bytes": json_bytes + csv_bytes,
        "truth": {
            "lake_ids": sorted(lake_ids),
            "quarantine": reasons,
            "per_district": {d: tuple(c) for d, c in per_district.items()},
            "dedup_drop": len(json_rows) + len(csv_rows) - len(winners),
        },
    }
