"""Seeded, deterministic inputs of the HTTP full-cache benchmark.

Every value the program reads is a pure function of (seed, id, version):

- the lookup payload: one JSON object per id 0..rows-1 with fields
  `id, name, tier, score, version`;
- the probe table `events` (enrich_warm / enrich_refresh): `event_id`,
  `user_id`, where the user ids are a seeded sample that mostly hits the
  payload and sometimes misses it (the LEFT join's null path);
- the expected per-tier answer of the enrichment aggregate, computed here
  from the same pure functions, never through the `http-full-cache` source.

`score` is a two-decimal number so its DECIMAL(28,6) sum is exact; the
same formula is written as a Spark SQL expression by `score_cents_sql`
for the stream workload's in-batch check.
"""

from decimal import Decimal

TIERS = ("bronze", "silver", "gold", "platinum", "diamond")
SCHEMA = "id INT, name STRING, tier STRING, score DOUBLE, version INT"

_MASK20 = (1 << 20) - 1
_MASK32 = (1 << 32) - 1


def tier_of(i, seed):
    h = (i * 2654435761 + seed * 2246822519) & _MASK32
    return TIERS[(h >> 13) % len(TIERS)]


def score_cents(i, version, seed):
    return ((i * 2654435761) ^ (version * 3266489909) ^ (seed * 668265263)) & _MASK20


def score_cents_sql(seed):
    """score_cents as a Spark SQL expression over the columns `id` and
    `version`; BIGINT arithmetic, so it is exact."""
    return ("((CAST(id AS BIGINT) * 2654435761) ^ (CAST(version AS BIGINT) * 3266489909)"
            " ^ (%dL * 668265263)) & 1048575" % seed)


def _cents_text(c):
    return "%d.%02d" % (c // 100, c % 100)


class Payload:
    """Builds payload bodies; the per-id prefix is fixed, only score and
    version change between versions."""

    def __init__(self, rows, seed):
        self.rows = rows
        self.seed = seed
        self._prefix = ['{"id":%d,"name":"user-%d","tier":"%s","score":' % (i, i, tier_of(i, seed))
                        for i in range(rows)]

    def body(self, version):
        seed = self.seed
        tail = ',"version":%d}' % version
        parts = [p + _cents_text(score_cents(i, version, seed)) + tail
                 for i, p in enumerate(self._prefix)]
        return ("[" + ",".join(parts) + "]").encode("ascii")


def make_events(n_events, n_users, payload_rows, seed):
    """Probe rows: (event_id, user_id). About 1% of the sampled users lie
    beyond the payload's ids and take the LEFT join's null path."""
    import random
    rnd = random.Random(seed * 7919 + 17)
    id_space = payload_rows + max(1, payload_rows // 100)
    users = rnd.sample(range(id_space), min(n_users, id_space))
    user_ids = [users[rnd.randrange(len(users))] for _ in range(n_events)]
    return list(range(n_events)), user_ids


def write_events(path, event_ids, user_ids):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({"event_id": pa.array(event_ids, pa.int64()),
                      "user_id": pa.array(user_ids, pa.int64())})
    pq.write_table(table, path)


class Expected:
    """Per-tier answer of the enrichment aggregate for any version."""

    def __init__(self, user_ids, payload_rows, seed):
        counts = {}
        for u in user_ids:
            counts[u] = counts.get(u, 0) + 1
        self.counts = counts
        self.rows = payload_rows
        self.seed = seed
        self._memo = {}

    def answer(self, version):
        """{tier or None: (count, sum_score as float, version or None)}"""
        if version in self._memo:
            return self._memo[version]
        acc = {}
        for u, n in self.counts.items():
            if u < self.rows:
                key = tier_of(u, self.seed)
                cents = score_cents(u, version, self.seed) * n
            else:
                key, cents = None, 0
            c, s = acc.get(key, (0, 0))
            acc[key] = (c + n, s + cents)
        out = {k: (c, float(Decimal(s) / 100) if k is not None else None,
                   version if k is not None else None)
               for k, (c, s) in acc.items()}
        self._memo[version] = out
        return out
