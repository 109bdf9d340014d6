"""Seeded ratings CSV for the ``cf_pipeline`` workload.

Same 11-field ``I,``/``V,`` row format and odd/even 2-block structure as
``spark_cassandra_collabfiltering_spark/fixtures.py``, scaled up: odd
users rate the first half of the products high (5) and the second half
low (1), even users the reverse, and a share of rows carries +-1 noise
(5 -> 4, 1 -> 2). Each user rates a fixed number of distinct products;
a share of each user's ratings is tagged ``V`` (validation).

Planted on top, so the expected counts are known before Spark runs:

- malformed rows: tagged rows whose product or rating does not parse;
  the ETL must drop them;
- untagged rows (tag ``X``): the tag filter must skip them;
- cold-start pairs: validation rows whose user or product never appears
  in training; ALS ``coldStartStrategy="drop"`` must leave them unscored.

``generate(seed)`` returns the rows and an :class:`Expected` with every
count derived from the rows themselves.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

N_USERS = 2000
N_PRODUCTS = 200
RATINGS_PER_USER = 20
VALIDATION_SHARE = 0.10
NOISE_RATE = 0.13
N_MALFORMED = 24
N_UNTAGGED = 8
N_COLD_USERS = 6  # users that appear only in validation
N_COLD_PRODUCT_ROWS = 6  # validation rows on a product nobody trained on


@dataclass(frozen=True)
class Expected:
    tagged_rows: int
    malformed_rows: int
    train_rows: int
    validation_rows: int
    cold_start_pairs: int
    scored_pairs: frozenset  # (user, product) of every validation row ALS can score


def _base_rating(user: int, product: int, n_products: int) -> int:
    high_half = product <= n_products // 2
    return 5 if (user % 2 == 1) == high_half else 1


def _row(tag: str, user: int, product, rating, base: int = 5, noisy: bool = False) -> str:
    # fields 4-10 are the reference's generator scaffolding; the parser ignores them
    return f"{tag},{user},{product},{rating},{base},{user % 2},{int(noisy)},+,1,,"


def generate(seed: int) -> tuple[list[str], Expected]:
    n_users, n_products, ratings_per_user = N_USERS, N_PRODUCTS, RATINGS_PER_USER
    rng = random.Random(seed)
    rows: list[str] = []
    train: list[tuple[int, int]] = []
    validation: list[tuple[int, int]] = []
    for user in range(1, n_users + 1):
        products = rng.sample(range(1, n_products + 1), ratings_per_user)
        n_val = max(1, round(ratings_per_user * VALIDATION_SHARE))
        for i, product in enumerate(products):
            base = _base_rating(user, product, n_products)
            noisy = rng.random() < NOISE_RATE
            rating = (base - 1 if base == 5 else base + 1) if noisy else base
            tag = "V" if i < n_val else "I"
            (validation if tag == "V" else train).append((user, product))
            rows.append(_row(tag, user, product, rating, base, noisy))

    cold_product = n_products + 1
    for k in range(N_COLD_USERS):
        user = n_users + 1 + k
        product = rng.randint(1, n_products)
        validation.append((user, product))
        rows.append(_row("V", user, product, 5))
    for _ in range(N_COLD_PRODUCT_ROWS):
        user = rng.randint(1, n_users)
        validation.append((user, cold_product))
        rows.append(_row("V", user, cold_product, 1, base=1))

    for k in range(N_MALFORMED):
        tag = "IV"[k % 2]
        user = rng.randint(1, n_users)
        if k % 3 == 0:
            rows.append(_row(tag, user, "p?", 5))  # product does not parse
        else:
            rows.append(_row(tag, user, rng.randint(1, n_products), "n/a"))
    for _ in range(N_UNTAGGED):
        rows.append(_row("X", rng.randint(1, n_users), rng.randint(1, n_products), 5))

    rng.shuffle(rows)
    trained_users = {u for u, _ in train}
    trained_products = {p for _, p in train}
    scored = frozenset(
        (u, p) for u, p in validation if u in trained_users and p in trained_products
    )
    expected = Expected(
        tagged_rows=len(train) + len(validation) + N_MALFORMED,
        malformed_rows=N_MALFORMED,
        train_rows=len(train),
        validation_rows=len(validation),
        cold_start_pairs=len(validation) - len(scored),
        scored_pairs=scored,
    )
    return rows, expected


def write_csv(path: str, rows: list[str]) -> str:
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    return path
