"""The input generator is a pure function of the seed."""

import hashlib
import os

import pytest

import gen

TINY = gen.Sizes(
    customers=50, suppliers=10, parts=40, orders=200, batch_lineitem=100,
    batch_orders=30, batch_events=50, merge_target=100, merge_batch=20,
    commit_rows=20, documents=60, exact_dups=4, near_dups=4, embeddings=30, queries=5,
)


def _generate(seed, out):
    gen.warehouse(seed, out, TINY)
    gen.elt_target(seed, out, TINY)
    gen.elt_batch(seed, 0, out, TINY)
    gen.elt_batch(seed, 1, out, TINY)
    gen.header_only_csv_dir(seed, 0, out, TINY)
    gen.documents(seed, out, TINY)
    gen.embeddings(seed, out, TINY)
    digests = {}
    for base, _dirs, files in os.walk(out):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                digests[os.path.relpath(p, out)] = hashlib.sha256(fh.read()).hexdigest()
    return digests


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    assert a and a == b
    assert gen.sql_params(7) == gen.sql_params(7)
    assert gen.commit_rows(7, 3, 10, 0).equals(gen.commit_rows(7, 3, 10, 0))


def test_different_seed_gives_different_inputs(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(8, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    # the fixed dimension tables (region, nation) may match; data may not
    differing = [k for k in a if a[k] != b[k]]
    for name in ("lineitem.parquet", "orders.parquet", "documents.parquet", "day000/merge.parquet"):
        assert name in differing
    assert gen.sql_params(7) != gen.sql_params(8)


def test_merge_batch_overlaps_target_by_thirty_percent(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.elt_batch(3, 2, str(tmp_path), TINY)
    keys = pq.read_table(paths["merge_parquet"]).column("o_orderkey").to_pylist()
    existing = [k for k in keys if k <= TINY.merge_target]
    assert len(keys) == TINY.merge_batch == len(set(keys))
    assert len(existing) == pytest.approx(0.3 * TINY.merge_batch, abs=1)


def test_header_only_first_part(tmp_path):
    d = gen.header_only_csv_dir(1, 0, str(tmp_path), TINY)
    parts = sorted(os.listdir(d))
    with open(os.path.join(d, parts[0])) as fh:
        assert len(fh.read().strip().splitlines()) == 1  # header only
    with open(os.path.join(d, parts[1])) as fh:
        assert len(fh.read().strip().splitlines()) > 1


def test_documents_inject_known_duplicates(tmp_path):
    import pyarrow.parquet as pq

    path, exact, near = gen.documents(5, str(tmp_path), TINY)
    texts = dict(zip(*[pq.read_table(path).column(c).to_pylist() for c in ("doc_id", "text")]))
    assert len(exact) == TINY.exact_dups and len(near) == TINY.near_dups
    assert all(texts[a] == texts[b] for a, b in exact)
    assert all(texts[a] != texts[b] for a, b in near)
