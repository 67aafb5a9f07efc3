"""Independent reference for the tweet-graph CLI and the checks of its
output files.

Computed in plain Python and numpy from the generated tweets, never
through the engine, so a defect in the engine cannot hide in its own
reference.
"""

from __future__ import annotations

import csv
import os
import re
from collections import Counter, defaultdict

import numpy as np

from gen import ACCENT_FOLD

_NON_WORD = re.compile(r"[^a-z0-9\s-]", re.ASCII)
_SPACES = re.compile(r"\s+", re.ASCII)
JACCARD_THRESHOLD = 0.5


def fold_tag(tag: str) -> str:
    return "".join(ACCENT_FOLD.get(c, c) for c in tag.lower())


def clean(text: str | None) -> str:
    s = _NON_WORD.sub(" ", (text or "").lower())
    return _SPACES.sub(" ", s).strip(" ")


def _bracket(items) -> str:
    return "[" + ",".join(sorted(items)) + "]"


class TweetGraphReference:
    """Edges, report rows, corpus and neighbourhood the CLI must write."""

    def __init__(self, tweets: list[dict]) -> None:
        raw: dict[str, set[str]] = defaultdict(set)
        rt = Counter()
        corpus = []
        for t in tweets:
            uid = str(t["user"]["id"])
            rs = t.get("retweeted_status")
            if "hashtagEntities" in t:
                raw[uid].update(t["hashtagEntitiesArray"])
            if rs is not None:
                src = str(rs["user"]["id"])
                rt[(src, uid)] += 1
                if "hashtagEntities" in rs:
                    raw[src].update(rs["hashtagEntitiesArray"])
            text = rs["text"] if rs is not None and rs.get("text") is not None else t.get("text")
            corpus.append(clean(text))
        self.user_tags = {u: sorted({fold_tag(x) for x in tags}) for u, tags in raw.items() if tags}
        self.rt = {k: float(v) for k, v in rt.items()}
        self.corpus = Counter(corpus)
        self.jc, self.candidates, self.join_rows = self._jaccard()
        edges = {(s, d, w, "RT") for (s, d), w in self.rt.items()}
        edges |= {(u, tag, 1.0, "HT") for u, tags in self.user_tags.items() for tag in tags}
        edges |= {(s, d, w, "JC") for (s, d), w in self.jc.items()}
        self.edges = edges
        self.vertices = {e[0] for e in edges} | {e[1] for e in edges}

    def _jaccard(self) -> tuple[dict[tuple[str, str], float], int, int]:
        """Pairs sharing at least two tags, kept above the threshold.

        Users are ranked in string order, so rank order is the engine's
        ``id_a < id_b`` string order; pair keys are counted with numpy."""
        users = sorted(self.user_tags)
        rank = {u: i for i, u in enumerate(users)}
        by_tag: dict[str, list[int]] = defaultdict(list)
        for u in users:
            for tag in self.user_tags[u]:
                by_tag[tag].append(rank[u])
        n = len(users)
        keys = []
        join_rows = 0
        for members in by_tag.values():
            if len(members) < 2:
                continue
            r = np.asarray(members, dtype=np.int64)
            i, j = np.triu_indices(len(r), 1)
            keys.append(r[i] * n + r[j])
            join_rows += len(i)
        if not keys:
            return {}, 0, 0
        uniq, shared = np.unique(np.concatenate(keys), return_counts=True)
        cand = uniq[shared >= 2]
        out = {}
        for key, inter in zip(cand.tolist(), shared[shared >= 2].tolist()):
            a, b = users[key // n], users[key % n]
            union = len(self.user_tags[a]) + len(self.user_tags[b]) - inter
            w = inter / union
            if w > JACCARD_THRESHOLD:
                out[(b, a)] = w  # the greater id is the edge source
        return out, len(cand), join_rows

    def most_retweeted(self) -> str:
        got = Counter()
        for (src, _dst), w in self.rt.items():
            got[src] += w
        return min(got, key=lambda u: (-got[u], u))

    def report_rows(self) -> Counter:
        retweeters = defaultdict(set)
        retweeted = defaultdict(set)
        for src, dst in self.rt:
            retweeters[src].add(dst)
            retweeted[dst].add(src)
        partners = defaultdict(set)
        for src, dst in self.jc:
            partners[src].add(dst)
            partners[dst].add(src)
        return Counter(
            (
                u,
                _bracket(tags),
                _bracket(retweeters[u]),
                _bracket(retweeted[u]),
                _bracket(partners[u]),
            )
            for u, tags in self.user_tags.items()
        )

    def neighbourhood(self, seed: str) -> tuple[set, set]:
        """2-hop subgraph: follow the seed's non-HT out-edges one hop,
        then keep every edge touching the visited set."""
        visited = {seed} | {d for s, d, _w, t in self.edges if s == seed and t != "HT"}
        sub = {e for e in self.edges if e[0] in visited or e[1] in visited}
        return sub, {e[0] for e in sub} | {e[1] for e in sub}


# --- output-file checks ------------------------------------------------------


def _read(path: str, sep: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f, delimiter=sep))
    return rows[0], rows[1:]


def _edges(path: str) -> Counter:
    header, rows = _read(path, ",")
    if header != ["src", "dst", "w", "type"]:
        raise ValueError(f"{path}: header {header}")
    return Counter((s, d, float(w), t) for s, d, w, t in rows)


def _ids(path: str) -> Counter:
    header, rows = _read(path, ",")
    if header != ["id"]:
        raise ValueError(f"{path}: header {header}")
    return Counter(r[0] for r in rows)


def _diff(what: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    missing = list((want - got).elements())[:3]
    extra = list((got - want).elements())[:3]
    return [f"{what}: {sum(got.values())} rows, want {sum(want.values())}; "
            f"missing {missing} extra {extra}"]


def check_cli_outputs(out_dir: str, ref: TweetGraphReference, seed: str) -> list[str]:
    """Compare every file one CLI pass wrote with the reference; return
    the problems found (empty when the outputs are correct)."""
    problems: list[str] = []
    try:
        got_edges = _edges(os.path.join(out_dir, "gFull", "g.edges.csv"))
        for kind in ("RT", "HT", "JC"):
            problems += _diff(
                f"{kind} edges",
                Counter({e: c for e, c in got_edges.items() if e[3] == kind}),
                Counter(e for e in ref.edges if e[3] == kind),
            )
        problems += _diff(
            "graph vertices",
            _ids(os.path.join(out_dir, "gFull", "g.vertices.csv")),
            Counter(ref.vertices),
        )
        header, rows = _read(os.path.join(out_dir, "exportPowerBI.csv"), ";")
        if header != ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"]:
            problems.append(f"report header {header}")
        problems += _diff("report rows", Counter(tuple(r) for r in rows), ref.report_rows())
        header, rows = _read(os.path.join(out_dir, "wordCloud.csv"), ",")
        if header != ["txt_plus_rt"]:
            problems.append(f"word cloud header {header}")
        problems += _diff("word cloud", Counter(r[0] if r else "" for r in rows), ref.corpus)
        sub_edges, sub_vertices = ref.neighbourhood(seed)
        nb = os.path.join(out_dir, f"id_neighbours_{seed}")
        problems += _diff("neighbourhood edges", _edges(os.path.join(nb, "id.edges.csv")), Counter(sub_edges))
        problems += _diff("neighbourhood vertices", _ids(os.path.join(nb, "id.vertices.csv")), Counter(sub_vertices))
    except (OSError, ValueError) as exc:
        problems.append(f"unreadable output: {exc}")
    return problems
