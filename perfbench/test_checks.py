"""The benchmark's output checks catch corrupted outputs, and its inputs
are reproducible from the seed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import csv
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from harness import compare_rows, parity_module  # noqa: E402
from reference import TweetGraphReference, check_cli_outputs  # noqa: E402

SMALL = {
    "tweets": 400, "users": 120, "tags": 60, "tag_zipf": 0.9, "user_zipf": 0.9,
    "max_tags_per_tweet": 4, "retweet_share": 0.3,
}


def _write(path: str, header: list[str], rows, sep: str = ",") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, delimiter=sep)
        w.writerow(header)
        w.writerows(rows)


def _write_expected(out: str, ref: TweetGraphReference, seed: str) -> None:
    """The files a correct CLI pass writes, in the CLI's layout."""
    _write(f"{out}/gFull/g.edges.csv", ["src", "dst", "w", "type"], sorted(ref.edges))
    _write(f"{out}/gFull/g.vertices.csv", ["id"], [[v] for v in sorted(ref.vertices)])
    _write(f"{out}/exportPowerBI.csv",
           ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"],
           sorted(ref.report_rows().elements()), sep=";")
    _write(f"{out}/wordCloud.csv", ["txt_plus_rt"], [[t] for t in ref.corpus.elements()])
    edges, vertices = ref.neighbourhood(seed)
    _write(f"{out}/id_neighbours_{seed}/id.edges.csv", ["src", "dst", "w", "type"], sorted(edges))
    _write(f"{out}/id_neighbours_{seed}/id.vertices.csv", ["id"], [[v] for v in sorted(vertices)])


@pytest.fixture()
def cli_out(tmp_path):
    ref = TweetGraphReference(gen.tweets(np.random.default_rng(7), SMALL))
    seed = ref.most_retweeted()
    out = str(tmp_path / "out")
    _write_expected(out, ref, seed)
    assert ref.jc, "the small input must produce Jaccard edges"
    return out, ref, seed


def test_correct_cli_outputs_pass(cli_out):
    out, ref, seed = cli_out
    assert check_cli_outputs(out, ref, seed) == []


@pytest.mark.parametrize("victim", [
    "gFull/g.edges.csv", "exportPowerBI.csv", "wordCloud.csv", "gFull/g.vertices.csv",
])
def test_corrupted_cli_output_is_caught(cli_out, victim):
    out, ref, seed = cli_out
    path = os.path.join(out, victim)
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    lines[1] = lines[1].replace("1", "2", 1) if "1" in lines[1] else "x" + lines[1]
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(lines)
    assert check_cli_outputs(out, ref, seed)


def test_dropped_jaccard_edge_is_caught(cli_out):
    out, ref, seed = cli_out
    path = os.path.join(out, "gFull", "g.edges.csv")
    with open(path, encoding="utf-8") as f:
        lines = [ln for ln in f if not ln.rstrip().endswith(",JC")] 
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(lines)
    problems = check_cli_outputs(out, ref, seed)
    assert any(p.startswith("JC edges") for p in problems)


def test_oracle_comparison_catches_a_changed_value():
    to_multiset = parity_module().rows_to_multiset
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    assert compare_rows("q", cols, rows, cols, list(rows), to_multiset) == []
    assert compare_rows("q", cols, [(1, 0.5), (2, 1.2500001)], cols, rows, to_multiset)
    assert compare_rows("q", cols, rows[:1], cols, rows, to_multiset)


def test_inputs_are_byte_identical_for_a_seed(tmp_path):
    for run in ("a", "b"):
        rows = gen.tweets(np.random.default_rng([3, 1]), SMALL)
        gen.write_tweets(str(tmp_path / f"{run}.json"), rows)
        params = {
            "customers": 50, "suppliers": 10, "parts": 40, "orders": 200, "lineitems": 800,
            "events": 300, "event_users": 20, "documents": 60, "exact_dup_share": 0.1,
            "near_dup_share": 0.1, "embeddings": 30, "embedding_dim": 8,
            "embedding_labels": 3, "embedding_noise": 0.1,
        }
        tabs, _ = gen.tables(np.random.default_rng([3, 2]), params)
        gen.write_tables(str(tmp_path / run), tabs)
    assert (tmp_path / "a.json").read_bytes() == (tmp_path / "b.json").read_bytes()
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
