import numpy as np

from pb import gen


def test_doc_chunks_are_deterministic_and_seeded():
    a = gen.doc_chunk(7, 1000, 4, 2, 16)
    b = gen.doc_chunk(7, 1000, 4, 2, 16)
    c = gen.doc_chunk(8, 1000, 4, 2, 16)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert not np.array_equal(a[2], c[2])
    assert a[2].dtype == np.float32 and a[2].shape == (250, 16)


def test_chunks_tile_the_id_range():
    ids = np.concatenate([gen.doc_chunk(1, 1003, 4, c, 8)[0] for c in range(4)])
    assert np.array_equal(ids, np.arange(1003))


def test_queries_conditions_and_docs_are_deterministic():
    assert np.array_equal(gen.query_batch(3, 5, 10, 32), gen.query_batch(3, 5, 10, 32))
    assert not np.array_equal(gen.query_batch(3, 5, 10, 32), gen.query_batch(3, 6, 10, 32))
    assert gen.tag_condition(3, 9) == gen.tag_condition(3, 9)
    assert gen.id_batch(3, 1, 10, 500) == gen.id_batch(3, 1, 10, 500)
    d1, d2 = gen.crud_docs(3, 0, [1, 2, 3], 8), gen.crud_docs(3, 0, [1, 2, 3], 8)
    assert d1["text"] == d2["text"] and np.array_equal(d1["embedding"], d2["embedding"])
    assert gen.text_queries(3, 0, 4) == gen.text_queries(3, 0, 4)
    assert gen.permutation(3, 0, list("abcdef")) == gen.permutation(3, 0, list("abcdef"))


def test_expected_count_matches_brute_force():
    n, seed = 5000, 11
    tags = {i: (i * gen.TAG_MUL + seed) % gen.TAG_MOD for i in range(n)}
    for stream in range(30):
        cond = gen.tag_condition(seed, stream)

        def match(i, c):
            out = True
            for key, val in c.items():
                if key == "$and":
                    out &= all(match(i, x) for x in val)
                elif key == "$or":
                    out &= any(match(i, x) for x in val)
                else:
                    v = i if key == "id" else tags[i]
                    for op, arg in val.items():
                        if op == "$eq":
                            out &= v == arg
                        elif op == "$gte":
                            out &= v >= arg
                        elif op == "$lt":
                            out &= v < arg
                        else:
                            out &= v in arg
            return out

        assert gen.expected_count(cond, n, seed) == sum(match(i, cond) for i in range(n))
