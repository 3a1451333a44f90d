"""Seeded input generators with ground truth.

Every generator takes the run's seed and returns plain pandas/numpy
data, so the program under test receives only generated inputs. The
same seed always yields the same inputs; each generator draws from its
own ``numpy.random.default_rng([seed, stream])`` so adding draws to one
input never shifts another.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

FACTOR_ETFS = sorted(["MTUM", "QUAL", "SPY", "USMV", "VLUE"])  # config.FACTORS
PANEL_START = dt.date(2019, 1, 2)


def weekdays(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


# ---------------------------------------------------------------- market


@dataclass
class Market:
    """An S&P-style panel: stock bars, factor-ETF bars and a
    point-in-time universe with some membership churn."""

    dates: list[dt.date]
    tickers: list[str]
    stocks: pd.DataFrame  # ticker, date, open, high, low, close, volume, trade_count, vwap
    etfs: pd.DataFrame
    universe: pd.DataFrame  # date, year, ticker
    membership: dict[str, tuple[int, int]] = field(default_factory=dict)  # [enter, exit) date index


def _bars(rng, ticker: str, dates: list[dt.date], rets: np.ndarray, s0: float) -> pd.DataFrame:
    n = len(dates)
    close = s0 * np.exp(np.cumsum(rets))
    spread = np.abs(rng.normal(0.005, 0.002, n))
    return pd.DataFrame(
        {
            "ticker": ticker,
            "date": dates,
            "open": close * (1 + rng.normal(0, 0.003, n)),
            "high": close * (1 + spread),
            "low": close * (1 - spread),
            "close": close,
            "volume": rng.integers(100_000, 5_000_000, n).astype(float),
            "trade_count": rng.integers(1_000, 50_000, n).astype(float),
            "vwap": close * (1 + rng.normal(0, 0.001, n)),
        }
    )


def market(seed: int, n_tickers: int, n_days: int, churn_share: float = 0.2) -> Market:
    """Factor-model prices: each stock's daily log return is a loading
    on the five factor-ETF returns plus idiosyncratic noise, so the
    rolling regressions, covariances and the QP see realistic inputs.
    ``churn_share`` of the tickers enter or leave the universe once,
    at a seeded date in the middle half of the panel."""
    rng = np.random.default_rng([seed, 1])
    dates = weekdays(PANEL_START, n_days)
    tickers = [f"S{i:03d}" for i in range(n_tickers)]
    f_ret = rng.normal(0.0003, 0.01, (n_days, len(FACTOR_ETFS)))
    betas = rng.normal(0.0, 0.4, (n_tickers, len(FACTOR_ETFS)))
    betas[:, FACTOR_ETFS.index("SPY")] += 1.0
    idio = rng.normal(0.0, 0.015, (n_days, n_tickers)) * rng.uniform(0.5, 1.5, n_tickers)
    s_ret = f_ret @ betas.T + idio
    etfs = pd.concat(
        [_bars(rng, f, dates, f_ret[:, j], float(rng.uniform(50, 400)))
         for j, f in enumerate(FACTOR_ETFS)],
        ignore_index=True,
    )
    stocks = pd.concat(
        [_bars(rng, t, dates, s_ret[:, i], float(rng.uniform(20, 200)))
         for i, t in enumerate(tickers)],
        ignore_index=True,
    )
    membership = {t: (0, n_days) for t in tickers}
    churned = rng.choice(n_tickers, size=int(churn_share * n_tickers), replace=False)
    for i in churned:
        cut = int(rng.integers(n_days // 4, 3 * n_days // 4))
        # half the churned names join mid-panel, half leave mid-panel
        membership[tickers[i]] = (cut, n_days) if i % 2 else (0, cut)
    rows = [
        (dates[k], dates[k].year, t)
        for t, (lo, hi) in membership.items()
        for k in range(lo, hi)
    ]
    universe = pd.DataFrame(rows, columns=["date", "year", "ticker"])
    return Market(dates, tickers, stocks, etfs, universe, membership)


def universe_rows(mk: Market, start: dt.date, end: dt.date) -> int:
    """Ground truth for the universe-gated accessors: members on each
    date in [start, end]."""
    idx = [k for k, d in enumerate(mk.dates) if start <= d <= end]
    if not idx:
        return 0
    lo, hi = idx[0], idx[-1] + 1
    return sum(max(0, min(hi, b) - max(lo, a)) for a, b in mk.membership.values())


def return_rows(mk: Market, n_names: int, start: dt.date, end: dt.date, last: dt.date) -> int:
    """Ground truth for the ungated return accessors: one row per name
    per priced date after the first (the null head is dropped)."""
    return n_names * sum(1 for d in mk.dates[1:] if start <= d <= end and d <= last)


@dataclass
class Query:
    accessor: str
    start: dt.date
    end: dt.date

    @property
    def kind(self) -> str:
        """The accessor and the query's shape: a one-day lookup or a
        range scan."""
        return f"{self.accessor}.{'point' if self.start == self.end else 'scan'}"


ACCESSORS = (
    "get_universe",
    "get_stock_returns",
    "get_etf_returns",
    "get_prices",
    "get_universe_returns",
)


def query_rounds(seed: int, dates: list[dt.date], n_rounds: int, span: int = 252) -> list[list[Query]]:
    """``n_rounds`` rounds of accessor queries over ``dates`` (the
    priced history). Each round holds one query of every kind: each
    accessor once as a one-day lookup and once as a ``span``-date range
    scan. The ``n_rounds`` x 5 lookup dates, and as many scan starts,
    are spread evenly over the history and taken in turn, so each kind
    reads a different part of it in each round and every run reads the
    same dates; a drawn date moves a query between year partitions of
    different sizes, which moved the median latency by 1.5x from seed
    to seed. The seed sets the order of the queries within each
    round."""
    rng = np.random.default_rng([seed, 4])
    span = min(span, len(dates))
    n_kinds = 2 * len(ACCESSORS)
    out = []
    for r in range(n_rounds):
        round_ = []
        for a, acc in enumerate(ACCESSORS):
            j = r * len(ACCESSORS) + a
            d = dates[j * (len(dates) - 1) // max(1, n_rounds * len(ACCESSORS) - 1)]
            k = j * (len(dates) - span) // max(1, n_rounds * len(ACCESSORS) - 1)
            round_ += [Query(acc, d, d), Query(acc, dates[k], dates[k + span - 1])]
        out.append([round_[int(i)] for i in rng.permutation(n_kinds)])
    return out


# ---------------------------------------------------------------- corpus

_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "you", "that"]
_OTHER = {
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "une"],
}
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text, source
    embeddings: pd.DataFrame  # doc_id, embedding (EMBED_DIM floats)
    exact_copies: dict[int, int]  # copy id -> original id
    near_dups: dict[int, int]  # edited copy id -> original id
    semantic_dups: dict[int, int]  # doc id -> original whose embedding it nearly repeats

    def clusters(self) -> dict[int, int]:
        """doc id -> planted cluster id (the original's id)."""
        out = {o: o for o in set(self.exact_copies.values()) | set(self.near_dups.values())}
        out.update(self.exact_copies)
        out.update(self.near_dups)
        return out


EMBED_DIM = 64  # CurationConfig.semantic_dim
N_SOURCES = 10


def corpus(
    seed: int,
    n_docs: int,
    exact_share: float = 0.05,
    near_share: float = 0.08,
    semantic_share: float = 0.02,
) -> Corpus:
    """Documents over a 3,000-word content vocabulary mixed with
    stopwords, so unrelated documents share few words (word-set Jaccard
    well under the 0.7 verify threshold) while planted copies are
    unambiguous:

    - ``exact_share`` of the ids are verbatim copies of an original;
    - ``near_share`` are edits that reorder two words and repeat a third
      — different text, identical word set, so every MinHash band
      collides and the exact Jaccard is 1.

    Copies always carry higher ids than their original (the dedup
    tiers keep the min id), and originals of the two kinds are
    disjoint. 8% of originals use German or French stopwords and 4% are
    3-8 words long.

    Every document carries one of ``N_SOURCES`` sources and a random
    ``EMBED_DIM`` embedding. ``semantic_share`` of the ids are
    originals of unrelated text whose embedding repeats that of a
    lower-id original up to noise (cosine above 0.9999): the
    paraphrases the embedding tier collapses. These pairs are disjoint
    from the planted copies and from each other.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = sorted({"".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 4)))) for _ in range(3600)})
    vocab = [w for w in vocab if w not in _EN][:3000]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    n_exact = int(exact_share * n_docs)
    n_near = int(near_share * n_docs)
    n_base = n_docs - n_exact - n_near
    texts, english = [], []
    for _ in range(n_base):
        r = rng.random()
        n_words = int(rng.integers(3, 9)) if r < 0.04 else int(rng.integers(40, 90))
        stop = _EN
        if 0.04 <= r < 0.12:
            stop = _OTHER["de" if r < 0.08 else "fr"]
        # short docs draw uniformly: two short Zipf draws could share a word set
        content = list(rng.choice(vocab, size=n_words, p=None if r < 0.04 else zipf))
        for k in range(0, n_words, 4):  # a stopword every fourth slot
            content[k] = stop[int(rng.integers(len(stop)))]
        texts.append(" ".join(content))
        english.append(stop is _EN)
    ids = rng.permutation(n_base)  # originals: ids 0..n_base-1, shuffled
    docs = {int(ids[i]): texts[i] for i in range(n_base)}
    long_en = [int(ids[i]) for i in range(n_base) if english[i] and len(texts[i].split()) >= 40]
    picks = rng.choice(long_en, size=n_exact + n_near, replace=False)
    exact_copies, near_dups = {}, {}
    next_id = n_base
    for j, orig in enumerate(picks):
        orig = int(orig)
        text = docs[orig]
        if j < n_exact:
            exact_copies[next_id] = orig
            docs[next_id] = text
        else:
            w = text.split()
            k = int(rng.integers(len(w) - 1))
            w[k], w[k + 1] = w[k + 1], w[k]
            w.append(w[int(rng.integers(len(w)))])
            near_dups[next_id] = orig
            docs[next_id] = " ".join(w)
        next_id += 1
    order = sorted(docs)
    # drawn from a stream of their own, so the texts above do not
    # depend on these draws
    rng = np.random.default_rng([seed, 6])
    frame = pd.DataFrame(
        {
            "doc_id": np.array(order, dtype=np.int64),
            "text": [docs[i] for i in order],
            "source": [f"src{int(k)}" for k in rng.integers(0, N_SOURCES, len(order))],
        }
    )
    vecs = rng.normal(0.0, 1.0, (len(order), EMBED_DIM))
    taken = set(int(p) for p in picks)
    free = [i for i in range(n_base) if i not in taken]
    chosen = rng.choice(free, size=2 * int(semantic_share * n_docs), replace=False)
    semantic_dups = {}
    for a, b in zip(chosen[0::2], chosen[1::2]):
        lo, hi = int(min(a, b)), int(max(a, b))
        vecs[hi] = vecs[lo] + rng.normal(0.0, 1e-3, EMBED_DIM)
        semantic_dups[hi] = lo
    emb = pd.DataFrame({"doc_id": frame["doc_id"], "embedding": list(vecs.astype(np.float32))})
    return Corpus(frame, emb, exact_copies, near_dups, semantic_dups)


# ---------------------------------------------------------------- registry tables


def registry_tables(seed: int, n_events: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """The testdata tables the headline registry queries read (events
    plus the three TPC-H tables of the Q3-class join), at a small
    seeded scale, in the testdata parquet schemas."""
    rng = np.random.default_rng([seed, 3])
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    secs = np.sort(rng.integers(0, 90 * 86400, n_events))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": t0 + secs.astype("timedelta64[s]"),
            "user_id": rng.integers(0, max(1, n_events // 100), n_events).astype(np.int64),
            "event_type": kinds[rng.integers(0, len(kinds), n_events)],
            "value": np.round(rng.uniform(0.5, 200.0, n_events), 2),
            "props": "{}",
        }
    )
    n_cust = max(1, n_orders // 10)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, len(segments), n_cust)],
        }
    )
    d0 = np.datetime64("1992-01-01", "D")
    odate = d0 + rng.integers(0, 2405, n_orders).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_orders), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": prios[rng.integers(0, len(prios), n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    n_li = len(okey)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(1, 20_000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_000, n_li).astype(np.int64),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    return {"events": events, "customer": customer, "orders": orders, "lineitem": lineitem}
