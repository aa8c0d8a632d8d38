"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed, so the
same seed always gives byte-identical inputs and the benchmark needs no
data outside its checkout.

Vault inputs: a sequence of loads, each the four raw landing tables the
pipeline consumes (`movie_raw_data_imdb`, `movie_raw_data_metacritic`,
`actor_raw_data_imdb`, `actor_raw_data_metacritic`), with the column
shapes of `VaultQueries.rawMovies` / `rawActors`. The sizes follow that
derivation at a TPC-H scale factor `sf`: 200,000 * sf `part` keys, IMDB
movies on the even keys, Metacritic movies on the multiples of three,
about 8.6 credits per movie (the `lineitem` rows with `l_linenumber <= 2`
per part) and 10,000 * sf people (the suppliers). Load 0 is the initial
catalog; every later load changes ratings, drops movies, adds new ones
and rotates some actor roles, which is what drives the SCD2 close-out /
new-version legs.

Catalog inputs: the `embeddings` table the index lifecycle gate reads,
in the testdata schema and at the sf0.01 testdata row count (64-dim float
vectors with a cluster label).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["silent", "crimson", "broken", "golden", "last", "hidden", "frozen",
       "electric", "lonely", "savage", "midnight", "distant", "velvet",
       "iron", "burning", "wild", "secret", "endless", "pale", "final"]
NOUN = ["river", "empire", "garden", "storm", "witness", "harbor", "mirror",
        "kingdom", "letter", "signal", "frontier", "island", "promise",
        "shadow", "station", "winter", "circus", "orchard", "machine", "road"]
GENRES = ["Drama", "Crime", "Comedy", "Action", "Thriller", "Romance",
          "Horror", "Sci-Fi", "Fantasy", "Mystery", "Adventure", "War",
          "Western", "Animation", "Documentary", "Music", "History",
          "Biography"]
CERTS = ["G", "PG", "PG-13", "R", "NC-17", "TV-MA"]
ROLES = ["actor", "director", "producer", "writer"]
DESCR = ["(voice)", "(uncredited)", "(as himself)", "(as herself)",
         "(archive footage)", "Character", "Lead", "Supporting"]

MOVIE_COLS = ["url", "movie_name", "original_name", "year", "certificate",
              "rating", "genres", "budget", "gross_worldwide", "min_duration"]

# Per-load churn, as fractions of the live catalog.
# 5% of ratings change per load, the rate of the incremental load the
# benchmark was sized on.
RATING_CHANGE = 0.05
# One movie in thirty vanishes, as in the second load of the vault gates
# (`VaultQueries.rawMovies(..., dropMod = 30)`).
DROP = 1 / 30
# As many new movies arrive, so the catalog keeps its size over loads.
ADD = DROP
# Not taken from a source: a small share of credited roles changes.
ROLE_ROTATE = 0.03
# Not taken from a source: IMDB actor rows stored column-rotated at scrape
# time, which the pipeline's preprocess step repairs.
ROTATED_ROWS = 0.02


def _rng(seed, *stream):
    return np.random.default_rng([int(seed)] + [int(s) for s in stream])


class Catalog:
    """The evolving movie universe behind a load sequence."""

    def __init__(self, seed, sf):
        self.seed = seed
        self.n_people = max(1, round(10_000 * sf))
        r = _rng(seed, 0)
        self.next_key = 0
        self.movies = {}
        self.live = []
        n_parts = round(200_000 * sf)
        while self.next_key < n_parts:
            self._new_movie(r)

    def _new_movie(self, r):
        # the next part key that is in at least one source
        while self.next_key % 2 and self.next_key % 3:
            self.next_key += 1
        i = self.next_key
        self.next_key += 1
        self.movies[i] = {
            "name": f"{ADJ[r.integers(len(ADJ))]} {NOUN[r.integers(len(NOUN))]} {i}",
            "duration": int(60 + r.integers(0, 120)),
            "year": str(int(1950 + r.integers(0, 75))),
            "cert": None if r.random() < 0.05 else CERTS[r.integers(len(CERTS))],
            "genres": sorted(set(GENRES[g] for g in
                                 r.integers(0, len(GENRES), r.integers(1, 4)))),
            "budget": str(int(r.integers(1, 300)) * 100000),
            "gross": str(int(r.integers(1, 900)) * 100000),
            "imdb": i % 2 == 0,
            "meta": i % 3 == 0,
            "rating": {"imdb": f"{r.uniform(1, 9.9):.1f}",
                       "meta": f"{r.uniform(1, 9.9):.1f}"},
            # 5..12 credits, 8.5 on average
            "credits": [[f"Person {int(r.integers(0, self.n_people))}",
                         DESCR[r.integers(len(DESCR))],
                         ROLES[r.integers(len(ROLES))]]
                        for _ in range(int(r.integers(5, 13)))],
        }
        self.live.append(i)

    def advance(self, load):
        """Apply one load's churn: ratings, drops, additions, roles."""
        r = _rng(self.seed, 1, load)
        n = len(self.live)
        for i in r.choice(self.live, int(n * RATING_CHANGE), replace=False):
            m = self.movies[int(i)]
            for s in ("imdb", "meta"):
                m["rating"][s] = f"{r.uniform(1, 9.9):.1f}"
        drop = set(int(i) for i in
                   r.choice(self.live, round(n * DROP), replace=False))
        self.live = [i for i in self.live if i not in drop]
        for _ in range(round(n * ADD)):
            self._new_movie(r)
        for i in r.choice(self.live, int(n * ROLE_ROTATE), replace=False):
            c = self.movies[int(i)]["credits"]
            k = int(r.integers(len(c)))
            c[k][2] = ROLES[(ROLES.index(c[k][2]) + 1) % len(ROLES)]

    def tables(self, load):
        r = _rng(self.seed, 2, load)
        movies = {"imdb": {c: [] for c in MOVIE_COLS},
                  "meta": {c: [] for c in MOVIE_COLS}}
        actor_cols = ["movie_name", "movie_duration", "name", "raw_role", "role"]
        actors = {"imdb": {c: [] for c in actor_cols},
                  "meta": {c: [] for c in actor_cols}}
        for i in self.live:
            m = self.movies[i]
            for s in ("imdb", "meta"):
                if not m[s]:
                    continue
                url = (f"https://www.imdb.com/title/tt{i:07d}/" if s == "imdb"
                       else f"https://www.metacritic.com/movie/m-{i}/")
                row = [url, m["name"], m["name"].upper(), m["year"], m["cert"],
                       m["rating"][s],
                       "[" + ", ".join(f"'{g}'" for g in m["genres"]) + "]",
                       m["budget"], m["gross"], str(m["duration"])]
                for c, v in zip(MOVIE_COLS, row):
                    movies[s][c].append(v)
                for name, descr, role in m["credits"]:
                    vals = [m["name"], m["duration"], name, descr, role]
                    if s == "imdb" and r.random() < ROTATED_ROWS:
                        # scrape-time rotation the preprocess step undoes:
                        # stored (role, name, raw_role) in (name, raw_role, role)
                        vals = [m["name"], m["duration"], role, name, descr]
                    for c, v in zip(actor_cols, vals):
                        actors[s][c].append(v)
        str_t = pa.string()
        movie_schema = pa.schema([(c, str_t) for c in MOVIE_COLS])
        actor_schema = pa.schema([("movie_name", str_t),
                                  ("movie_duration", pa.int32()),
                                  ("name", str_t), ("raw_role", str_t),
                                  ("role", str_t)])
        return {
            "movie_raw_data_imdb": pa.table(movies["imdb"], schema=movie_schema),
            "movie_raw_data_metacritic": pa.table(movies["meta"], schema=movie_schema),
            "actor_raw_data_imdb": pa.table(actors["imdb"], schema=actor_schema),
            "actor_raw_data_metacritic": pa.table(actors["meta"], schema=actor_schema),
        }


def write_loads(out_dir, seed, sf, n_loads):
    """Write loads 0..n_loads-1 at scale factor sf as
    out_dir/load_<j>/<table>.parquet and return the raw bytes of each load."""
    cat = Catalog(seed, sf)
    sizes = []
    for j in range(n_loads):
        if j > 0:
            cat.advance(j)
        d = os.path.join(out_dir, f"load_{j}")
        os.makedirs(d, exist_ok=True)
        total = 0
        for name, t in cat.tables(j).items():
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(t, p)
            total += os.path.getsize(p)
        sizes.append(total)
    return sizes


def write_embeddings(out_dir, seed, n_vectors=500, dim=64):
    """Write embeddings.parquet into out_dir and return its size."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 3)
    centers = r.normal(0, 1, (8, dim))
    labels = r.integers(0, 8, n_vectors)
    vecs = (centers[labels] + r.normal(0, 0.35, (n_vectors, dim))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array([list(v) for v in vecs], type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    p = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(emb, p)
    return os.path.getsize(p)
