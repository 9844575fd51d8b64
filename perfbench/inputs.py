"""Seeded benchmark inputs.

Every input the program sees is generated here from the workload seed,
into the run's own directory: the TPC-H-ish fixture through the repo's
``tools/reseed_fixture.py`` (imported, not edited), and a news-shaped
``articles`` table for the daily-report job, built with vectorized
numpy so that generation stays a small share of set-up time.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPORT_DATE = "2025-05-24"
EMB_DIM = 64
N_BLOBS = 6

_SENTENCES = [
    "정부는 새로운 경제 정책을 발표했다.",
    "시장은 금리 인하 소식에 크게 반응했다.",
    "연구진은 인공지능 모델의 성능을 개선했다.",
    "지역 축제에 많은 관광객이 몰렸다.",
    "대표팀은 결승전에서 극적인 승리를 거뒀다.",
    "전문가들은 기후 변화의 위험을 경고했다.",
    "새 학기를 앞두고 교육 현장이 분주하다.",
    "병원은 감염병 대응 체계를 강화했다.",
    "기업들은 반도체 투자를 확대하기로 했다.",
    "배우는 새 영화의 촬영을 마쳤다.",
    "국회는 예산안 처리를 두고 논쟁했다.",
    "주민들은 교통 개선을 요구했다.",
]
_KEYWORDS = [
    "경제", "정책", "금리", "인공지능", "반도체", "축제", "관광", "결승",
    "기후", "교육", "감염병", "투자", "영화", "예산", "교통", "선거",
    "수출", "물가", "환율", "우주", "배터리", "날씨", "부동산", "청년",
]


def load_module(root: str, rel: str, name: str):
    """Import the repo file ``rel`` (a tool or job script, not a package
    module) from the checkout at ``root`` as module ``name``."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def fixture(root: str, out_dir: str, seed: int, sf: float) -> str:
    """Write the reseeded TPC-H-ish fixture at scale ``sf``; returns its dir."""
    load_module(root, "tools/reseed_fixture.py", "reseed_fixture").generate(out_dir, seed, sf)
    return out_dir


@dataclass(frozen=True)
class Articles:
    """Where the articles table was written, plus the facts the daily
    report's outputs are checked against (computed here, from numpy)."""

    path: str
    n_rows: int
    n_day: int
    n_day_embedded: int


def _choice(rng: np.random.Generator, pool: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.choice(len(pool), n, p=p)]


def articles(out_dir: str, seed: int, n: int) -> Articles:
    """A news-shaped ``articles`` table (FIXTURES.md section 2): 60-80%
    of rows on ``REPORT_DATE``, the rest within three days of it; a
    skewed category mix with the fallback and out-of-vocabulary values;
    3-5 overlapping keywords per row; 1-5 sentences ending in ``다.``;
    64-d embeddings drawn around a few separated centres, 10% null."""
    from ssafynews_data_spark.schemas import CATEGORIES, CATEGORY_FALLBACK

    rng = np.random.default_rng(seed)
    ids = np.arange(1, n + 1)

    on_day = rng.random(n) < rng.uniform(0.6, 0.8)
    offsets = np.where(on_day, 0, rng.choice([-3, -2, -1, 1, 2, 3], n))
    secs = rng.integers(0, 86400, n)
    ts = (
        np.datetime64(REPORT_DATE, "s")
        + offsets.astype("timedelta64[D]")
        + secs.astype("timedelta64[s]")
    )

    cats = [*CATEGORIES, CATEGORY_FALLBACK, "기타뉴스"]
    weights = 1.0 / np.arange(1, len(cats) + 1) ** 1.2
    category = _choice(rng, cats, n, p=weights / weights.sum())

    # content: 1-5 sentences, drawn from a pool of composed texts
    pool = [
        " ".join(_SENTENCES[j] for j in rng.choice(len(_SENTENCES), k))
        for k in rng.integers(1, 6, 256)
    ]
    content = _choice(rng, pool, n)
    summary = np.array([c.split("다.", 1)[0] + "다." for c in pool], dtype=object)[
        rng.integers(0, len(pool), n)
    ]

    # keywords: 3-5 per row, Zipf-skewed so Top-10 has clear leaders
    kw_len = rng.integers(3, 6, n)
    kw_off = np.concatenate([[0], np.cumsum(kw_len)]).astype(np.int32)
    kw_w = 1.0 / np.arange(1, len(_KEYWORDS) + 1)
    kw_vals = _choice(rng, _KEYWORDS, int(kw_off[-1]), p=kw_w / kw_w.sum())
    keywords = pa.ListArray.from_arrays(kw_off, pa.array(kw_vals, pa.string()))

    centres = rng.normal(0.0, 1.0, (N_BLOBS, EMB_DIM)) * 4.0
    emb = centres[rng.integers(0, N_BLOBS, n)] + rng.normal(0.0, 0.5, (n, EMB_DIM))
    has_emb = rng.random(n) >= 0.10
    # a null list must span zero values in parquet
    emb_off = np.concatenate([[0], np.cumsum(has_emb * EMB_DIM)]).astype(np.int32)
    embedding = pa.ListArray.from_arrays(
        pa.array(emb_off),
        pa.array(emb[has_emb].astype(np.float32).ravel()),
        mask=pa.array(~has_emb),
    )

    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "title": pa.array(np.char.add("기사 ", ids.astype(str)).astype(object)),
            "author": pa.array(
                np.char.add(_choice(rng, ["김", "이", "박", "최", "정"], n).astype(str), " 기자")
                .astype(object)
            ),
            "link": pa.array(
                np.char.add("https://news.example/a/", ids.astype(str)).astype(object)
            ),
            "summary": pa.array(summary, pa.string()),
            "content": pa.array(content, pa.string()),
            "published_at": pa.array(np.datetime_as_string(ts, unit="s").astype(object)),
            "category": pa.array(category, pa.string()),
            "keywords": keywords,
            "embedding": embedding,
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "articles.parquet")
    pq.write_table(table, path)
    return Articles(
        path=path,
        n_rows=n,
        n_day=int(on_day.sum()),
        n_day_embedded=int((on_day & has_emb).sum()),
    )


def query_vectors(corpus: np.ndarray, seed: int, n: int, noise: float = 0.05) -> np.ndarray:
    """``n`` request vectors: seeded corpus rows plus Gaussian noise."""
    rng = np.random.default_rng(seed + 1)
    rows = corpus[rng.integers(0, len(corpus), n)]
    return rows + rng.normal(0.0, noise, rows.shape)
