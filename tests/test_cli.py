"""Golden test for the CLI entry point (python -m tvbigdataproject_spark),
mirroring reference main.py:24-70: same flags, same output layout, but
each artifact lands as ONE real CSV file instead of a repartition(1)
one-part directory."""

from __future__ import annotations

import csv
import os
import re

import pytest

from tvbigdataproject_spark.__main__ import build_parser, main


def _read_csv(path, sep=","):
    with open(path, newline="") as fh:
        return list(csv.reader(fh, delimiter=sep))


def test_cli_produces_all_artifacts(spark, tweets_json, tmp_path, capsys):
    out = str(tmp_path / "outputs")
    main(
        [
            tweets_json,
            "--output_path", out,
            "--save_full_graph",
            "--save_pbi_report",
            "--save_word_cloud",
            "--id_neighbours", "1",
        ],
        spark=spark,
    )

    # full graph: single files, reference naming (gFull/g.edges.csv)
    edges = _read_csv(os.path.join(out, "gFull", "g.edges.csv"))
    assert edges[0] == ["src", "dst", "w", "type"]
    assert len(edges) == 1 + 20  # header + 4 RT + 15 HT + 1 JC
    verts = _read_csv(os.path.join(out, "gFull", "g.vertices.csv"))
    assert verts[0] == ["id"]

    # Power BI report: ';'-separated, the reference's exact column names
    # (RetweetTagsJaccardGraph.py:237-243)
    rep = _read_csv(os.path.join(out, "exportPowerBI.csv"), sep=";")
    assert rep[0] == ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"]
    by_user = {r[0]: r for r in rep[1:]}
    assert by_user["1"][1:] == ["[cafe,spark]", "[2,6]", "[]", "[]"]
    assert by_user["8"][4] == "[7]"

    # word cloud: one row per tweet (empty-text rows kept)
    wc = _read_csv(os.path.join(out, "wordCloud.csv"))
    assert wc[0] == ["txt_plus_rt"]
    assert ["spark is great"] in wc
    assert len(wc) == 1 + 12

    # neighborhood subgraph of node 1
    ne = _read_csv(os.path.join(out, "id_neighbours_1", "id.edges.csv"))
    assert len(ne) == 1 + 6

    # every sink reports the rows it wrote: the printed counts are the
    # data lines of the files, in artifact order
    def data_lines(*parts):
        with open(os.path.join(out, *parts)) as fh:
            return sum(1 for _ in fh) - 1

    printed = capsys.readouterr().out
    assert re.findall(r"rows written: (\d+)", printed) == [
        str(data_lines("wordCloud.csv")),
        str(data_lines("exportPowerBI.csv")),
    ]
    graphs = [("gFull", "g"), ("id_neighbours_1", "id")]
    assert re.findall(r"edges written: (\d+), vertices written: (\d+)", printed) == [
        (str(data_lines(d, f"{p}.edges.csv")), str(data_lines(d, f"{p}.vertices.csv")))
        for d, p in graphs
    ]


def test_cli_flag_spelling_matches_reference():
    # drop-in compatibility includes the reference's misspelled flag
    # (main.py:39) and its BooleanOptionalAction negative form
    args = build_parser().parse_args(
        ["in.json", "--only_tags_from_not_retweetted_posts"]
    )
    assert args.only_tags_from_not_retweetted_posts is True
    args = build_parser().parse_args(["in.json"])
    assert args.only_tags_from_not_retweetted_posts is False
    assert args.save_full_graph is False and args.id_neighbours is None
    # the node id names an output directory: it must stay one component
    for bad in ("", ".", "..", "../../leaked", f"a{os.sep}b"):
        with pytest.raises(SystemExit):
            build_parser().parse_args(["in.json", "--id_neighbours", bad])


def test_cli_releases_persisted_tables(spark, tweets_json, tmp_path, persisted_rdds):
    # the pipeline persists its shared tables for the run; main() must
    # hand the session back without them
    before = persisted_rdds()
    main(
        [
            tweets_json,
            "--output_path", str(tmp_path / "outputs"),
            "--save_pbi_report",
            "--id_neighbours", "1",
        ],
        spark=spark,
    )
    assert persisted_rdds() <= before


class _OwnedSession:
    """Stands in for the session main() creates itself: delegates to the
    test session and records stop() instead of stopping it."""

    def __init__(self, spark):
        self._spark = spark
        self.stopped = False

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self):
        self.stopped = True


def test_cli_cleans_up_when_an_artifact_raises(
    spark, tweets_json, tmp_path, monkeypatch, persisted_rdds
):
    import tvbigdataproject_spark.session as session
    import tvbigdataproject_spark.sources.io as io

    def failing_save_graph(graph, *args, **kwargs):
        graph.edges.count()  # materialise the persisted tables first
        raise RuntimeError("sink failed")

    owned = _OwnedSession(spark)
    monkeypatch.setattr(session, "get_spark", lambda **kwargs: owned)
    monkeypatch.setattr(io, "save_graph", failing_save_graph)
    before = persisted_rdds()
    with pytest.raises(RuntimeError, match="sink failed"):
        main([tweets_json, "--output_path", str(tmp_path / "outputs"), "--save_full_graph"])
    assert persisted_rdds() <= before
    assert owned.stopped
