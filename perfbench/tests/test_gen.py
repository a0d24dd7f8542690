"""Same seed → byte-identical inputs; another seed → other rows with
the same recorded properties."""

from __future__ import annotations

import gen


def test_nfl_tables_seeded():
    a, b, c = (gen.nfl_tables(s, n_games=3, plays_per_game=12)
               for s in (5, 5, 6))
    assert gen.table_digest(a["tables"]) == gen.table_digest(b["tables"])
    assert gen.table_digest(a["tables"]) != gen.table_digest(c["tables"])
    assert a["props"]["games"] == c["props"]["games"] == 3
    assert a["props"]["plays_per_game"] == c["props"]["plays_per_game"]


def test_stream_batches_seeded():
    a, b, c = (gen.StreamBatches(s, batch_docs=100) for s in (5, 5, 6))
    digest = [gen.table_digest({str(i): s.batch(i) for i in range(4)})
              for s in (a, b, c)]
    assert digest[0] == digest[1] != digest[2]
    assert a.props() == c.props()
    assert a.repeats[0] == set()
    assert [len(r) for r in a.repeats[1:]] == [10, 10, 10]
    # a repeat is an exact copy of an earlier batch's text
    texts = {t for i in range(3) for t in
             a.batch(i).column("text").to_pylist()}
    last = a.batch(3)
    for doc_id, text in zip(last.column("doc_id").to_pylist(),
                            last.column("text").to_pylist()):
        if doc_id in a.repeats[3]:
            assert text in texts


def test_hybrid_corpus_seeded():
    a, b, c = (gen.hybrid_corpus(s, n_docs=500, n_queries=16)
               for s in (5, 5, 6))
    keys = ("corpus", "queries")
    assert gen.table_digest({k: a[k] for k in keys}) == \
        gen.table_digest({k: b[k] for k in keys})
    assert gen.table_digest({k: a[k] for k in keys}) != \
        gen.table_digest({k: c[k] for k in keys})
    assert a["props"] == c["props"]
    assert list(gen.request_queries(5, 3, 16)) == \
        list(gen.request_queries(5, 3, 16))
