"""Seeded, vectorised input generators.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and its parameters from ``spec.json``; the same seed and
parameters give byte-identical files. The program under test only ever
sees the files written here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Letters a base tag is spelled from, and the accented / upper-case
# variants a tweet may use instead. Every variant folds back to its base
# letter under lower-casing plus accent folding.
TAG_LETTERS = "abcdeilnorstuyz"
ACCENTS = {
    "a": "áä", "c": "č", "e": "éě", "i": "í", "n": "ň",
    "o": "óö", "s": "š", "u": "úü", "y": "ý", "z": "ž",
}
ACCENT_FOLD = {v: k for k, vs in ACCENTS.items() for v in vs}

WORDS = (
    "spark graph user tweet tag data stream fast slow join query table "
    "vote news game music movie city team love time day night world good "
    "bad new old big small"
).split()
PUNCT = ("", "", "", "!", "?", ",", ".", ":)", "…")


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def shuffled_draws(rng: np.random.Generator, weights: np.ndarray, total: int) -> np.ndarray:
    """``total`` draws whose counts per value are ``weights * total``
    rounded by largest remainder, in seeded order. Every seed then has
    the same frequency distribution; the seed decides who gets which
    rank and where each draw lands."""
    exact = weights * total
    counts = np.floor(exact).astype(np.int64)
    short = total - int(counts.sum())
    counts[np.argsort(counts - exact, kind="stable")[:short]] += 1
    ranks = rng.permutation(len(weights))
    return rng.permutation(np.repeat(ranks, counts))


def _tag_names(n: int) -> list[str]:
    """n distinct base tags: the index written in base len(TAG_LETTERS),
    prefixed so every tag has at least two letters."""
    base = len(TAG_LETTERS)
    out = []
    for i in range(n):
        digits = []
        k = i
        while True:
            digits.append(TAG_LETTERS[k % base])
            k //= base
            if k == 0:
                break
        out.append("t" + "".join(reversed(digits)) + "x")
    return out


def _variant(tag: str, rng_vals: np.ndarray) -> str:
    """Spell ``tag`` with accents / capitals chosen by ``rng_vals``."""
    chars = []
    for ch, r in zip(tag, rng_vals):
        if r < 0.08 and ch in ACCENTS:
            opts = ACCENTS[ch]
            ch = opts[int(r * 1000) % len(opts)]
        if 0.08 <= r < 0.16:
            ch = ch.upper()
        chars.append(ch)
    return "".join(chars)


def tweets(rng: np.random.Generator, p: dict) -> list[dict]:
    """Synthetic tweets in the shape the CLI reads (schemas.TWEET_SCHEMA).

    Authors and tags follow Zipf frequencies (exact counts, seeded
    order); a fixed share of tweets are retweets of an earlier original,
    carrying its author, text and tags.
    """
    n, n_users, n_tags = p["tweets"], p["users"], p["tags"]
    user_ids = 100_000 + rng.choice(999_900_000, n_users, replace=False)
    authors = shuffled_draws(rng, zipf_weights(n_users, p["user_zipf"]), n)
    n_tags_per = rng.permutation(np.resize(np.arange(p["max_tags_per_tweet"] + 1), n))
    tag_idx = shuffled_draws(
        rng, zipf_weights(n_tags, p["tag_zipf"]), int(n_tags_per.sum())
    )
    tag_spell = rng.random((len(tag_idx), 12))
    n_words = rng.integers(3, 14, n)
    word_idx = rng.integers(0, len(WORDS), int(n_words.sum()))
    punct_idx = rng.integers(0, len(PUNCT), n)
    is_rt = rng.permutation(n) < round(n * p["retweet_share"])
    # a retweet forwards an original chosen uniformly among the earlier
    # ones, so a user collects retweets in proportion to their originals
    rt_pick = rng.random(n)
    names = _tag_names(n_tags)

    out: list[dict] = []
    originals: list[int] = []
    ti = wi = 0
    for i in range(n):
        uid = int(user_ids[authors[i]])
        k = int(n_tags_per[i])
        tags = [
            _variant(names[tag_idx[ti + j]], tag_spell[ti + j]) for j in range(k)
        ]
        ti += k
        m = int(n_words[i])
        words = [WORDS[w] for w in word_idx[wi : wi + m]]
        wi += m
        text = " ".join(words + ["#" + t for t in tags]) + PUNCT[punct_idx[i]]
        tweet = {"user": {"id": uid}, "text": text}
        if tags:
            tweet["hashtagEntities"] = [{"text": t} for t in tags]
            tweet["hashtagEntitiesArray"] = tags
        if is_rt[i] and originals:
            src = out[originals[int(len(originals) * rt_pick[i])]]
            rs = {"user": {"id": src["user"]["id"]}, "text": src["text"]}
            if "hashtagEntities" in src:
                rs["hashtagEntities"] = src["hashtagEntities"]
                rs["hashtagEntitiesArray"] = src["hashtagEntitiesArray"]
                tweet["hashtagEntities"] = src["hashtagEntities"]
                tweet["hashtagEntitiesArray"] = src["hashtagEntitiesArray"]
            else:
                tweet.pop("hashtagEntities", None)
                tweet.pop("hashtagEntitiesArray", None)
            tweet["text"] = "RT " + src["text"]
            tweet["retweeted_status"] = rs
        else:
            originals.append(i)
        out.append(tweet)
    return out


def write_tweets(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False, sort_keys=True))
            f.write("\n")


# --- star-schema tables ------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in epoch micros
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, drawn as integer cents (no binary noise)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _strs(values) -> pa.Array:
    return pa.array(list(values), type=pa.string())


def _fmt(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}{k:09d}" for k in keys.tolist()]


def _documents(rng: np.random.Generator, p: dict) -> tuple[pa.Table, float]:
    """Documents with a seeded share of exact and near duplicates.

    Returns the table and the measured exact-duplicate share
    (1 - distinct texts / documents)."""
    n = p["documents"]
    n_words = rng.integers(8, 90, n)
    words = rng.integers(0, len(_DOC_VOCAB), int(n_words.sum()))
    texts: list[str] = []
    wi = 0
    for i in range(n):
        texts.append(" ".join(_DOC_VOCAB[w] for w in words[wi : wi + n_words[i]]))
        wi += n_words[i]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    edit_pos = rng.random(n)
    edit_word = rng.integers(0, len(_DOC_VOCAB), n)
    exact_cut = p["exact_dup_share"]
    near_cut = exact_cut + p["near_dup_share"]
    for i in range(1, n):
        j = int(src[i] % i)  # an earlier document
        if kind[i] < exact_cut:
            texts[i] = texts[j]
        elif kind[i] < near_cut:
            toks = texts[j].split(" ")
            toks[int(edit_pos[i] * len(toks))] = _DOC_VOCAB[edit_word[i]]
            texts[i] = " ".join(toks)
    lang = rng.choice(len(_LANGS), n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": _strs(texts),
            "lang": _strs(_LANGS[k] for k in lang),
            "source": _strs(f"src{k}" for k in rng.integers(0, 20, n)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, 1.0 - len(set(texts)) / n


def _embeddings(rng: np.random.Generator, p: dict) -> pa.Table:
    """Unit vectors clustered around ``labels`` centres."""
    n, dim, k = p["embeddings"], p["embedding_dim"], p["embedding_labels"]
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    vecs = centres[label] + rng.normal(scale=p["embedding_noise"], size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        }
    )


def tables(rng: np.random.Generator, p: dict) -> tuple[dict[str, pa.Table], float]:
    """The registry's star schema plus events, documents and embeddings,
    with the column domains of the engine's test tables."""
    n_c, n_s, n_p = p["customers"], p["suppliers"], p["parts"]
    n_o, n_l, n_e = p["orders"], p["lineitems"], p["events"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _strs(_REGIONS)}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": _strs(f"NATION_{k}" for k in nk.tolist()),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    ck = np.arange(n_c)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _strs(_fmt("Customer#", ck)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": _strs(_SEGMENTS[k] for k in rng.integers(0, 5, n_c)),
        }
    )
    sk = np.arange(n_s)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _strs(_fmt("Supplier#", sk)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }
    )
    pk = np.arange(n_p)
    adj = rng.integers(0, len(_P_ADJ), n_p)
    noun = rng.integers(0, len(_P_NOUN), n_p)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _strs(f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)),
            "p_brand": _strs(f"Brand#{k}" for k in rng.integers(1, 26, n_p)),
            "p_type": _strs(_P_TYPES[k] for k in rng.integers(0, 6, n_p)),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
        }
    )
    ok = np.arange(n_o)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": _strs("FOP"[k] for k in rng.integers(0, 3, n_o)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_o) * _DAY_US),
            "o_orderpriority": _strs(_PRIORITIES[k] for k in rng.integers(0, 5, n_o)),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _strs("ANR"[k] for k in rng.integers(0, 3, n_l)),
            "l_linestatus": _strs("FO"[k] for k in rng.integers(0, 2, n_l)),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2500, n_l)) * _DAY_US),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": _ts(_EPOCH_2024 + ts),
            "user_id": pa.array(rng.integers(0, p["event_users"], n_e), pa.int64()),
            "event_type": _strs(_EVENT_TYPES[k] for k in rng.integers(0, 5, n_e)),
            "value": pa.array(_money(rng, 0.01, 490.0, n_e)),
            "props": _strs(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)),
        }
    )
    out["documents"], dup_share = _documents(rng, p)
    out["embeddings"] = _embeddings(rng, p)
    return out, dup_share


def write_tables(sf_dir: str, tabs: dict[str, pa.Table]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tabs.items():
        # one row group per file, like the engine's test tables
        pq.write_table(
            table,
            os.path.join(sf_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
