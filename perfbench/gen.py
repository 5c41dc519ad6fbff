"""Seeded, vectorised inputs: crawl pages, training-prep pages and the
mixed-type table of the tabular entry points.

Every generator is a pure function of its seed and size: the same
arguments give the same bytes.  Crawl text is assembled in Arrow C++
(``take`` + ``binary_join`` over list arrays) instead of a per-word
Python loop like ``webtext/fixtures.py::pages_pdf``; Python touches
only the planted minority (PII lines, copies, cluster variants), so a
20k-page shard builds in one to two seconds.  Each generator also
returns the ground truth the checkers compare against; the truth is
computed here from the generated values (pandas/numpy), never by the
program under test.
"""

from __future__ import annotations

import functools
import itertools
import urllib.parse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pandas_dq_spark.webtext.lm import EN_STOPWORDS, LANG_POOLS

CRAWL_VOCAB = 300_000
LINE_WORDS = 12

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


@functools.lru_cache(maxsize=1)
def synthetic_vocab() -> pa.Array:
    """CRAWL_VOCAB consonant-vowel pseudo-words, shortest first, none
    of them a word of any language pool (so they never act as language
    markers or stopwords and the language truth stays exact)."""
    syl = [c + v for c in _CONS for v in _VOWELS]
    taken = {w for pool in LANG_POOLS.values() for w in pool}
    words: list[str] = []
    for k in (2, 3):
        for parts in itertools.product(syl, repeat=k):
            w = "".join(parts)
            if w not in taken:
                words.append(w)
            if len(words) == CRAWL_VOCAB:
                return pa.array(words, pa.string())
    raise AssertionError("syllable space smaller than CRAWL_VOCAB")


def _join_docs(tokens: pa.Array, doc_lens: np.ndarray, line_words: int) -> pa.Array:
    """Concatenate ``tokens`` into documents of ``doc_lens`` tokens,
    ``line_words`` tokens per line, words joined by ' ' and lines by
    '\\n'.  A zero-length document becomes ''."""
    doc_lens = doc_lens.astype(np.int64)
    n_lines = (doc_lens + line_words - 1) // line_words
    line_len = np.full(int(n_lines.sum()), line_words, dtype=np.int64)
    has = n_lines > 0
    last = np.cumsum(n_lines)[has] - 1
    line_len[last] = doc_lens[has] - (n_lines[has] - 1) * line_words
    line_off = np.concatenate([[0], np.cumsum(line_len)]).astype(np.int32)
    lines = pc.binary_join(pa.ListArray.from_arrays(pa.array(line_off), tokens), " ")
    doc_off = np.concatenate([[0], np.cumsum(n_lines)]).astype(np.int32)
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(doc_off), lines), "\n")


def _zipf_ranks(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """Ranks 0..size-1 drawn from a Zipf-Mandelbrot law p(k) ~ 1/(k+q)^a
    by inverting its continuous CDF (O(1) per draw)."""
    q, u = 2.7, rng.random(n)
    if a == 1.0:
        k = (1 + q) * np.exp(u * np.log((size + q) / (1 + q))) - q
    else:
        lo, hi = (1 + q) ** (1 - a), (size + q) ** (1 - a)
        k = (lo + u * (hi - lo)) ** (1 / (1 - a)) - q
    return np.clip(k.astype(np.int64) - 1, 0, size - 1)


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


FRESH_SPAN = 10**6
DATE_DAYS = (14_000, 20_000)


def _numeric_tokens(rng: np.random.Generator, m: int,
                    epoch: int) -> tuple[pa.Array, np.ndarray]:
    """Integers, decimals, ISO dates, prices and percentages, one of
    the five kinds per token (all digits, as crawl text has them).
    Integers, decimals and prices draw their whole part from
    [epoch * FRESH_SPAN, (epoch + 1) * FRESH_SPAN), so no two epochs
    share one; dates and percentages come from small fixed sets that
    ``warm_words`` lists.  Returns the tokens and which are fresh."""
    base = epoch * FRESH_SPAN
    ints = _str(base + rng.integers(0, FRESH_SPAN, m))
    dec = pc.binary_join_element_wise(
        _str(base + rng.integers(0, FRESH_SPAN, m)), _str(rng.integers(0, 10, m)), "."
    )
    dates = pc.cast(
        pa.array(rng.integers(*DATE_DAYS, m).astype(np.int32), pa.date32()),
        pa.string(),
    )
    cents = pc.utf8_lpad(_str(rng.integers(0, 100, m)), 2, "0")
    price = pc.binary_join_element_wise(
        pa.array(["$"] * m), pc.binary_join_element_wise(
            _str(base + rng.integers(1, FRESH_SPAN, m)), cents, "."), ""
    )
    pct = pc.binary_join_element_wise(
        _str(rng.integers(0, 100, m)), pa.array(["%"] * m), ""
    )
    kind = rng.integers(0, 5, m)
    tokens = pc.choose(pa.array(kind.astype(np.int8)), ints, dec, dates, price, pct)
    return tokens, np.isin(kind, (0, 1, 3))


def warm_words() -> list[str]:
    """Every crawl token that does not depend on the epoch: the
    synthetic vocabulary, the language pools, and every date and
    percentage ``_numeric_tokens`` can draw."""
    pools = [EN_STOPWORDS, LANG_POOLS["de"], LANG_POOLS["fr"]]
    dates = pc.cast(pa.array(np.arange(*DATE_DAYS, dtype=np.int32), pa.date32()),
                    pa.string())
    return (synthetic_vocab().to_pylist() + [w for pool in pools for w in pool]
            + dates.to_pylist() + [f"{k}%" for k in range(100)])


def _pii_value(rng: np.random.Generator, kind: int, i: int) -> tuple[str, str]:
    """(line appended to the page, the planted PII value in it)."""
    a, b, c = (int(x) for x in rng.integers(100, 900, 3))
    d = int(rng.integers(1000, 9999))
    if kind == 0:
        v = f"user{i}.{a}@mail{b % 37}.example.com"
        return f"contact {v} for details", v
    if kind == 1:
        sep = "-" if a % 2 else "."
        # no '(555) 123-4567' form: the phone rule's leading \b cannot
        # match before '(' after a space, so it is never scrubbed
        v = f"{a}{sep}{b}{sep}{d}"
        return f"call {v} now", v
    if kind == 2:
        v = f"{a}-{b % 100:02d}-{d}"
        return f"ssn {v} on file", v
    v = f"{a % 250 + 1}.{b % 256}.{c % 256}.{d % 254 + 1}"
    return f"server at {v} is down", v


def crawl_pages(n: int, seed: int, epoch: int = 0) -> tuple[pa.Table, pd.DataFrame]:
    """Crawl shard: (url, warc_ts, text, lang) pages and the truth
    table (url, lang, pii, is_dup).  ``truth.attrs["fresh_words"]`` is
    the number of distinct tokens that belong to this epoch alone.

    Make-up: 2 % empty, 5 % short (5-40 words), the rest prose of
    40-1500 words in en (80 %), de (10 %) or fr (10 %).  Every third
    word is a word of the page's language pool; the others are drawn
    from a 300k-word Zipf vocabulary, and in 80 % of the pages one
    in ten of them is a number, date, price or percentage.  10 % of
    non-empty pages get a planted e-mail, phone, SSN or IP line; 3 %
    are exact copies of another page.  Hosts are Zipf-skewed over
    2000 names.

    ``epoch`` changes only the numbers' whole parts (drawn from their
    own generator), so every epoch of a seed has the same pages, PII,
    copies and languages but numbers no other epoch has."""
    rng = np.random.default_rng(seed)
    vocab = synthetic_vocab()
    u = rng.random(n)
    lens = np.clip(rng.lognormal(5.2, 0.7, n), 40, 1500).astype(np.int64)
    short = (u >= 0.02) & (u < 0.07)
    lens[short] = rng.integers(5, 41, int(short.sum()))
    lens[u < 0.02] = 0
    langs = np.array(["en", "de", "fr"])[
        np.searchsorted([0.8, 0.9], rng.random(n), side="right")
    ]
    numeric_doc = rng.random(n) < 0.8

    total = int(lens.sum())
    doc_of = np.repeat(np.arange(n), lens)
    pos = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    is_marker = pos % 3 == 0
    is_num = ~is_marker & numeric_doc[doc_of] & (rng.random(total) < 0.1)
    is_vocab = ~is_marker & ~is_num

    pools = {"en": EN_STOPWORDS, "de": LANG_POOLS["de"], "fr": LANG_POOLS["fr"]}
    marker_words = [w for lang in ("en", "de", "fr") for w in pools[lang]]
    marker_base = np.cumsum([0] + [len(pools[x]) for x in ("en", "de", "fr")])
    lang_idx = np.searchsorted(["de", "en", "fr"], langs)  # sorted lookup
    lang_idx = np.array([1, 0, 2])[lang_idx]  # -> en=0, de=1, fr=2
    pool_size = np.diff(marker_base)[lang_idx][doc_of]
    n_num = int(is_num.sum())

    idx = np.empty(total, dtype=np.int64)
    idx[is_vocab] = _zipf_ranks(rng, int(is_vocab.sum()), len(vocab), 1.0)
    m = is_marker
    idx[m] = len(vocab) + marker_base[lang_idx][doc_of[m]] + (
        rng.random(int(m.sum())) * pool_size[m]
    ).astype(np.int64)
    idx[is_num] = len(vocab) + len(marker_words) + np.arange(n_num)
    numbers, is_fresh = _numeric_tokens(np.random.default_rng([seed, epoch]), n_num, epoch)
    pool = pa.concat_arrays([vocab, pa.array(marker_words, pa.string()), numbers])
    text = _join_docs(pool.take(pa.array(idx)), lens, LINE_WORDS).to_pylist()

    pii: list[str | None] = [None] * n
    pii_docs = np.flatnonzero((lens > 0) & (rng.random(n) < 0.10))
    kinds = rng.integers(0, 4, len(pii_docs))
    for i, k in zip(pii_docs.tolist(), kinds.tolist()):
        line, v = _pii_value(rng, k, i)
        text[i] = text[i] + "\n" + line
        pii[i] = v

    # exact duplicates copy an earlier non-empty page (text, language
    # and planted PII come with it)
    src = np.arange(n)
    dups = np.flatnonzero((rng.random(n) < 0.03) & (np.arange(n) > 0))
    for i in dups.tolist():
        j = int(rng.integers(0, i))
        while lens[src[j]] == 0:
            j = int(rng.integers(0, i))
        src[i] = src[j]
    text = [text[s] for s in src]
    # distinct fresh numbers on the pages that survive the copying
    shown = is_fresh & np.isin(doc_of[is_num], src)
    fresh = pc.count_distinct(numbers.filter(pa.array(shown))).as_py()
    langs = langs[src]
    pii = [pii[s] for s in src]

    hosts = [f"www.site{k:04d}.example" for k in range(2000)]
    host = pa.array(hosts).take(pa.array(_zipf_ranks(rng, n, len(hosts), 1.2)))
    url = pc.binary_join_element_wise(
        "https://", host, "/p/", pc.utf8_lpad(_str(np.arange(n)), 8, "0"), ""
    )
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 500 * 86_400, n).astype("timedelta64[s]"))
    table = pa.table({
        "url": url,
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    truth = pd.DataFrame({"url": url.to_pylist(), "lang": langs, "pii": pii,
                          "text": text})
    # the survivor of each identical-text group is its smallest url
    truth["is_dup"] = truth.sort_values(["text", "url"]).duplicated("text")
    truth = truth.drop(columns="text")
    truth.attrs["fresh_words"] = fresh
    return table, truth


def canonical_url(url: str) -> str:
    """The benchmark's own canonicaliser (urllib.parse, independent of
    the program's regexes): drop the fragment, lowercase scheme and
    host, strip the scheme's default port from the AUTHORITY only, and
    drop one trailing slash."""
    p = urllib.parse.urlsplit(url)
    host = p.hostname or ""
    netloc = host
    if p.username is not None:
        creds = p.username + (":" + p.password if p.password is not None else "")
        netloc = creds + "@" + netloc
    default = {"http": 80, "https": 443}.get(p.scheme.lower())
    if p.port is not None and p.port != default:
        netloc += f":{p.port}"
    out = urllib.parse.urlunsplit((p.scheme.lower(), netloc, p.path, p.query, ""))
    return out[:-1] if out.endswith("/") else out


# URLs that carry a default port number OUTSIDE the authority: the
# canonical form keeps it.  Fixed (not seeded), so the operation that
# normalises them fails the same way in every run.
PORT_IN_PATH_URLS = [
    "https://h.example/a:80/b",
    "https://h.example/docs:443?x=1",
    "http://h.example/p?port=:80",
    "https://h.example/q?next=:443/x",
    "https://H.example:443/ok",  # authority port: stripped by both
]


def train_pages(n: int, seed: int) -> tuple[pa.Table, pd.DataFrame]:
    """Training-prep pages: (url, warc_ts, text, lang) and the truth
    table (url, canonical, cluster, jaccard, clean).

    Make-up: en prose only, 150-400 words on the fixture vocabulary
    (every third word a stopword, 12 words a line), no digits and no
    PII.  70 % of pages get a boilerplate header line and 70 % a
    footer line, drawn from 24 fixed lines (each in hundreds of
    pages).  3 % of pages seed a near-duplicate cluster of 2-4 pages
    whose members differ from the seed in 3 % of the non-stopword
    positions.  Raw urls vary host case, carry a fragment, a default
    port in the authority or a trailing slash."""
    rng = np.random.default_rng(seed)
    en = LANG_POOLS["en"]
    n_seed = max(1, int(n * 0.03))
    sizes = rng.integers(2, 5, n_seed)
    n_members = int(sizes.sum())
    n_solo = n - n_members
    if n_solo < 0:
        raise ValueError("n too small for the cluster plan")
    n_base = n_solo + n_seed  # independent prose bodies
    lens = rng.integers(150, 401, n_base)
    total = int(lens.sum())
    pos = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    stop = pos % 3 == 0
    words = np.empty(total, dtype=np.int64)
    words[stop] = rng.integers(0, len(EN_STOPWORDS), int(stop.sum()))
    words[~stop] = len(EN_STOPWORDS) + rng.integers(0, len(en), int((~stop).sum()))
    vocab = np.array(list(EN_STOPWORDS) + list(en), dtype=object)
    bodies = np.split(words, np.cumsum(lens)[:-1])

    docs_words: list[np.ndarray] = []
    cluster: list[int] = []
    for b in range(n_solo):
        docs_words.append(bodies[b])
        cluster.append(-1)
    for c in range(n_seed):
        base = bodies[n_solo + c]
        docs_words.append(base)
        cluster.append(c)
        free = np.flatnonzero(np.arange(len(base)) % 3 != 0)
        for _ in range(int(sizes[c]) - 1):
            v = base.copy()
            at = rng.choice(free, max(1, int(len(free) * 0.03)), replace=False)
            v[at] = len(EN_STOPWORDS) + (
                (v[at] - len(EN_STOPWORDS) + rng.integers(1, len(en), len(at))) % len(en)
            )
            docs_words.append(v)
            cluster.append(c)
    order = rng.permutation(n)
    docs_words = [docs_words[i] for i in order]
    cluster_arr = np.asarray(cluster)[order]

    dlens = np.array([len(w) for w in docs_words])
    flat = np.concatenate(docs_words)
    clean = _join_docs(pa.array(vocab[flat], pa.string()), dlens, LINE_WORDS).to_pylist()

    boiler = [" ".join(rng.choice(en, int(rng.integers(6, 11)))) for _ in range(24)]
    head = rng.integers(0, 24, n)
    foot = rng.integers(0, 24, n)
    has_head = rng.random(n) < 0.7
    has_foot = rng.random(n) < 0.7
    text = [
        (boiler[h] + "\n" if hh else "") + c + ("\n" + boiler[f] if ff else "")
        for c, h, f, hh, ff in zip(clean, head.tolist(), foot.tolist(),
                                   has_head.tolist(), has_foot.tolist())
    ]

    canon = [f"https://site{k % 40:02d}.example/doc/{k:07d}" for k in range(n)]
    style = rng.integers(0, 5, n)
    raw = []
    for k, (cu, s) in enumerate(zip(canon, style.tolist())):
        host = f"site{k % 40:02d}.example"
        path = f"/doc/{k:07d}"
        raw.append([
            cu,
            f"https://{host.upper()}{path}",
            f"https://{host}{path}#sec-{k % 7}",
            f"https://{host}:443{path}",
            f"{cu}/",
        ][s])

    jac = np.full(n, np.nan)
    seeds: dict[int, int] = {}
    for i, c in enumerate(cluster_arr.tolist()):
        if c >= 0:
            seeds.setdefault(c, i)
    shingles = {}
    for i, c in enumerate(cluster_arr.tolist()):
        if c >= 0:
            shingles[i] = _shingles(docs_words[i])
    for i, c in enumerate(cluster_arr.tolist()):
        if c >= 0:
            a, b = shingles[i], shingles[seeds[c]]
            jac[i] = len(a & b) / len(a | b)

    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 500 * 86_400, n).astype("timedelta64[s]"))
    table = pa.table({
        "url": pa.array(raw, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
    })
    truth = pd.DataFrame({"url": raw, "canonical": canon, "cluster": cluster_arr,
                          "jaccard": jac, "clean": clean})
    return table, truth


def _shingles(ws: np.ndarray, k: int = 3) -> set:
    return {tuple(ws[i:i + k]) for i in range(len(ws) - k + 1)}


TAB_CATS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
TAB_RARE = ["r1", "r2", "r3", "r4", "r5"]
SCORE_SHIFT = 3.0


def tabular(n: int, seed: int) -> tuple[pd.DataFrame, np.ndarray, dict]:
    """Mixed-type table, its train mask, and the planted facts.

    Columns: ``id`` (unique int, an ID column), ``amount`` (lognormal
    float, 3 % nulls, 0.5 % x50 outliers), ``amount_x2`` (2 x amount
    plus noise: a correlated column), ``score`` (normal, one decimal,
    the drift column: test rows are shifted by SCORE_SHIFT), ``qty``
    (Poisson int, 0.3 % outliers of 50-100), ``category`` (8 common
    values, 2 % nulls, 0.5 % spread over 5 rare values), ``city``
    (300 values, 1 % nulls) and ``flag`` (bool).  0.5 % of rows are
    exact copies of another row.  The first 80 % of rows are train."""
    rng = np.random.default_rng(seed)
    amount = rng.lognormal(3.0, 0.5, n)
    out = rng.random(n) < 0.005
    amount[out] *= 50
    amount_x2 = 2 * amount + rng.normal(0, 0.5, n)
    amount[rng.random(n) < 0.03] = np.nan
    score = np.round(rng.normal(50, 10, n), 1)
    train = np.arange(n) < int(n * 0.8)
    score[~train] = np.round(score[~train] + SCORE_SHIFT, 1)
    qty = rng.poisson(3, n).astype(np.int64)
    qo = rng.random(n) < 0.003
    qty[qo] = rng.integers(50, 101, int(qo.sum()))
    cat = np.array(TAB_CATS, dtype=object)[rng.integers(0, len(TAB_CATS), n)]
    rare = rng.random(n) < 0.005
    cat[rare] = np.array(TAB_RARE, dtype=object)[rng.integers(0, 5, int(rare.sum()))]
    cat[rng.random(n) < 0.02] = None
    city = np.array([f"city{k:03d}" for k in range(300)], dtype=object)[
        rng.integers(0, 300, n)]
    city[rng.random(n) < 0.01] = None
    df = pd.DataFrame({
        "id": rng.permutation(n).astype(np.int64) + 1_000_000,
        "amount": amount,
        "amount_x2": amount_x2,
        "score": score,
        "qty": qty,
        "category": cat,
        "city": city,
        "flag": rng.random(n) < 0.4,
    })
    # exact copies of other rows, within the same side of the split
    dup = np.flatnonzero((rng.random(n) < 0.005) & (np.arange(n) > 0))
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    same_side = train[src] == train[dup]
    dup, src = dup[same_side], src[same_side]
    df.iloc[dup] = df.iloc[src].to_numpy()
    df = df.astype({"id": np.int64, "amount": float, "amount_x2": float,
                    "score": float, "qty": np.int64, "flag": bool})
    return df, train, {"planted_dups": len(dup), "score_shift": SCORE_SHIFT}


def constant_numeric_table(n: int = 200) -> pd.DataFrame:
    """Small fixed table with a constant NUMERIC column (not seeded)."""
    k = np.arange(n)
    return pd.DataFrame({
        "x": (k % 17).astype(float),
        "y": (k * 7 % 23).astype(float),
        "const": np.full(n, 5.0),
        "label": np.where(k % 3 == 0, "a", "b"),
    })
