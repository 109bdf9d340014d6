import pyarrow.parquet as pq
from spark_cassandra_collabfiltering_spark.sources.tables import TESTDATA_TABLES

from perfbench import corpus_gen, ratings_gen


def _parses(x: str) -> bool:
    try:
        float(x)
        return True
    except ValueError:
        return False


def test_ratings_deterministic_per_seed():
    rows_a, exp_a = ratings_gen.generate(7)
    rows_b, exp_b = ratings_gen.generate(7)
    rows_c, _ = ratings_gen.generate(8)
    assert rows_a == rows_b and exp_a == exp_b
    assert rows_a != rows_c


def test_ratings_planted_counts():
    rows, exp = ratings_gen.generate(3)
    fields = [r.split(",") for r in rows]
    assert all(len(f) == 11 for f in fields)
    tagged = [f for f in fields if f[0] in ("I", "V")]
    good = [f for f in tagged if _parses(f[2]) and _parses(f[3])]
    train = [f for f in good if f[0] == "I"]
    val = [f for f in good if f[0] == "V"]
    users = {f[1] for f in train}
    products = {f[2] for f in train}
    scored = {(int(f[1]), int(f[2])) for f in val if f[1] in users and f[2] in products}

    assert exp.tagged_rows == len(tagged) == len(rows) - ratings_gen.N_UNTAGGED
    assert exp.malformed_rows == len(tagged) - len(good) == ratings_gen.N_MALFORMED
    assert exp.train_rows == len(train)
    assert exp.validation_rows == len(val)
    assert exp.scored_pairs == scored
    assert exp.cold_start_pairs == len(val) - len(scored)
    assert exp.cold_start_pairs == ratings_gen.N_COLD_USERS + ratings_gen.N_COLD_PRODUCT_ROWS
    # the 2-block structure: every well-formed rating is 1, 2, 4 or 5
    assert {float(f[3]) for f in good} <= {1.0, 2.0, 4.0, 5.0}


def test_corpus_deterministic_per_seed(tmp_path):
    a = corpus_gen.generate(str(tmp_path / "a"), seed=5)
    b = corpus_gen.generate(str(tmp_path / "b"), seed=5)
    corpus_gen.generate(str(tmp_path / "c"), seed=6)
    assert a == b and set(a) == set(TESTDATA_TABLES)  # every table the registry reads
    for name in TESTDATA_TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet")
    assert not docs.equals(pq.read_table(tmp_path / "c" / "documents.parquet"))
    texts = docs.column("text").to_pylist()
    assert any(t.endswith(" dup") for t in texts)  # planted near-duplicates
