"""Chunker semantics (SURVEY.md C1/C2): window size/step, short tail,
deterministic content-hash ids."""

from knowledge_graph_spark.operators.chunk import chunk_windows, split_text_units


def test_window_kernel_exact():
    toks = [str(i) for i in range(10)]
    out = chunk_windows(toks, size=4, overlap=1)
    # step = 3 → starts 0,3,6,9
    assert [(i, c.split(), n) for i, c, n in out] == [
        (0, ["0", "1", "2", "3"], 4),
        (1, ["3", "4", "5", "6"], 4),
        (2, ["6", "7", "8", "9"], 4),
        (3, ["9"], 1),
    ]


def test_window_kernel_short_doc():
    assert chunk_windows(["a", "b"], size=10, overlap=2) == [(0, "a b", 2)]
    assert chunk_windows([], size=10, overlap=2) == []


def test_overlap_tokens_repeat():
    toks = list("abcdefghij")
    out = chunk_windows(toks, size=5, overlap=2)
    # consecutive windows share exactly `overlap` tokens
    first, second = out[0][1].split(), out[1][1].split()
    assert first[-2:] == second[:2]


def test_split_text_units_spark(spark):
    docs = spark.createDataFrame(
        [("d1", "c1", " ".join(str(i) for i in range(7)), 1)],
        schema="doc_id string, conv_id string, text string, n_turns int",
    )
    rows = (
        split_text_units(docs, size=3, overlap=1, tokenizer="ws")
        .orderBy("chunk_idx")
        .collect()
    )
    assert [r.chunk for r in rows] == ["0 1 2", "2 3 4", "4 5 6", "6"]
    assert [r.n_tokens for r in rows] == [3, 3, 3, 1]
    # ids are content-addressed and distinct
    assert len({r.id for r in rows}) == 4
    assert all(len(r.id) == 64 for r in rows)


def test_ids_stable_across_runs(spark):
    docs = spark.createDataFrame(
        [("dX", "cX", "alpha beta gamma delta", 1)],
        schema="doc_id string, conv_id string, text string, n_turns int",
    )
    a = {r.id for r in split_text_units(docs, size=2, overlap=0).collect()}
    b = {r.id for r in split_text_units(docs, size=2, overlap=0).collect()}
    assert a == b


def test_sentence_units(spark):
    from knowledge_graph_spark.operators.chunk import split_sentence_units

    docs = spark.createDataFrame(
        [
            ("d1", "c1", "Alpha met Beta. Gamma left!  Did Delta stay? yes", 1),
            ("d2", "c2", "no terminators here", 1),
            ("d3", "c3", "...", 1),  # punctuation-only → no sentences
        ],
        "doc_id string, conv_id string, text string, n_turns int",
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk, r.n_tokens)
        for r in split_sentence_units(docs).collect()
    )
    assert rows == [
        ("d1", 0, "Alpha met Beta.", 3),
        ("d1", 1, "Gamma left!", 2),
        ("d1", 2, "Did Delta stay?", 3),
        ("d1", 3, "yes", 1),
        ("d2", 0, "no terminators here", 3),
    ]
