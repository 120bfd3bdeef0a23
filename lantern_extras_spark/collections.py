"""Collections — the reference's HTTP collection layer (SURVEY.md §2.12 H1–H5)
re-expressed as a Python/DataFrame API (the serving transport is out of scope;
the semantics are not).

Reference parity:
- default schema `id bigint / vector REAL[] / data TEXT / metadata JSONB`
  (http_server/collection.rs:190-198) — metadata carried as a JSON string;
- create/list/get/insert/drop (H1–H4);
- `search(name, query_vec | query_text+query_model, k, metric)` embeds the
  query with the same model before top-k — H5's CTE shape
  (http_server/search.rs:110-123);
- auto-assigned ascending ids on insert (bigint identity semantics).

Storage is a parquet directory per collection; on a lakehouse deployment these
become catalog tables and `insert` an ACID append."""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lantern_extras_spark.embeddings.pipeline import embed_column
from lantern_extras_spark.operators.knn import distance_col
from lantern_extras_spark.session import local_frame

DEFAULT_SCHEMA = "id bigint, vector array<float>, data string, metadata string"


class CollectionStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    _NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

    def _path(self, name: str) -> str:
        """Resolve a collection name to its directory, rejecting anything
        that could escape the store root: names are restricted to
        `[A-Za-z0-9_.-]+`, dot-only names (`.`, `..`, `...`) are refused, and
        the resolved path is realpath-asserted to live strictly inside
        `self.root` — so `DELETE /collections/..` can never rmtree the
        parent of the collections root (defense in depth: both checks must
        pass)."""
        if not self._NAME_RE.fullmatch(name) or set(name) == {"."}:
            raise ValueError(
                f"invalid collection name {name!r} (allowed: [A-Za-z0-9_.-]+, "
                "not dot-only)"
            )
        root = os.path.realpath(self.root)
        p = os.path.realpath(os.path.join(root, name))
        if os.path.dirname(p) != root:
            raise ValueError(f"collection name {name!r} escapes the store root")
        return p

    # -- H2: create ------------------------------------------------------

    def create_collection(self, name: str, schema: str | None = None) -> None:
        p = self._path(name)
        if os.path.exists(p):
            raise ValueError(f"collection {name!r} already exists")
        df = local_frame(self.spark, [], schema or DEFAULT_SCHEMA)
        df.write.parquet(p)

    # -- H1: list / get --------------------------------------------------

    def list_collections(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def get_collection(self, name: str) -> dict:
        df = self.read(name)
        return {
            "name": name,
            "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
            "rows": df.count(),
        }

    def read(self, name: str) -> DataFrame:
        p = self._path(name)
        if not os.path.exists(p):
            raise ValueError(f"no such collection {name!r}")
        return self.spark.read.parquet(p)

    # -- H3: insert ------------------------------------------------------

    def insert(self, name: str, rows: list[dict]) -> int:
        """Bulk insert (S12 analog): dict rows with auto-assigned ascending ids;
        missing columns null; metadata dicts serialized to JSON text."""
        cur = self.read(name)
        start = (cur.agg(F.max("id")).first()[0] or 0) + 1
        cols = [f.name for f in cur.schema.fields]
        prepared = []
        for i, r in enumerate(rows):
            r = dict(r)
            r.setdefault("id", start + i)
            if isinstance(r.get("metadata"), (dict, list)):
                r["metadata"] = json.dumps(r["metadata"])
            prepared.append(tuple(r.get(c) for c in cols))
        new = local_frame(self.spark, prepared, cur.schema)
        new.write.mode("append").parquet(self._path(name))
        return len(rows)

    # -- H4: drop --------------------------------------------------------

    def delete_collection(self, name: str) -> None:
        p = self._path(name)
        if not os.path.exists(p):
            raise ValueError(f"no such collection {name!r}")
        shutil.rmtree(p)

    # -- H6: index build ---------------------------------------------------

    def create_index(
        self,
        name: str,
        column: str = "vector",
        metric: str = "l2sq",
        ef: int = 64,
        ef_construction: int = 128,
        m: int = 16,
        pq: bool = False,
        index_name: str | None = None,
    ) -> str:
        """H6 `POST /collections/{name}/index` (http_server/index.rs:58-139,
        defaults ef=64, efc=128, m=16 from lines 66-70): build the external
        HNSW index over a collection column. The artifact lives under the
        collection root as `_index_<name>` (leading underscore so parquet
        scans of the collection ignore it); X9 create_external_index does the
        validation + build + catalog recording."""
        from lantern_extras_spark.operators.hnsw import create_external_index

        path = self._path(name)
        if not os.path.exists(path):
            raise ValueError(f"no such collection {name!r}")
        return create_external_index(
            self.read(name),
            column=column,
            table=path,
            metric_kind=metric,
            m=m,
            ef_construction=ef_construction,
            ef=ef,
            pq=pq,
            index_name=f"_index_{index_name or column}",
            root=path,
            id_col="id",
        )

    def _resolve_index(self, name: str, vec_col: str) -> tuple[str, dict]:
        """Find the index artifact serving `vec_col`: the default-named
        `_index_<vec_col>` first, else any `_index_*` whose catalog records
        `column == vec_col` (custom `index_name` builds). Returns
        (artifact_path, catalog)."""
        root = self._path(name)
        candidates = [os.path.join(root, f"_index_{vec_col}")] + sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("_index_") and d != f"_index_{vec_col}"
        )
        for p in candidates:
            cat_file = os.path.join(p, "_lantern_catalog.json")
            if not os.path.isfile(cat_file):
                continue
            with open(cat_file) as f:
                catalog = json.load(f)
            if catalog.get("column") == vec_col:
                return p, catalog
        raise ValueError(
            f"collection {name!r} has no index on {vec_col!r}; call create_index first"
        )

    # -- H5: search ------------------------------------------------------

    def search(
        self,
        name: str,
        query_vec: list[float] | None = None,
        query_text: str | None = None,
        query_model: str = "hash/test-model",
        query_runtime: str = "hash",
        k: int = 10,
        metric: str = "l2sq",
        vec_col: str = "vector",
        use_index: bool = False,
        ef: int | None = None,
    ) -> DataFrame:
        """Top-k rows by distance; `query_text` is embedded with the same model
        first (H5 CTE semantics). Exactly one of query_vec/query_text.
        `use_index=True` answers through the collection's HNSW artifact
        (built by `create_index`) — per-shard graph search then a k-row
        semi-join back to the collection for the payload columns; fails loudly
        if no index serves `vec_col` or the index was built under a different
        metric than the one requested. `ef` overrides the query beam width
        (defaults to the ef recorded at create_index time)."""
        if (query_vec is None) == (query_text is None):
            raise ValueError("provide exactly one of query_vec / query_text")
        if query_text is not None:
            qdf = local_frame(self.spark, [(query_text,)], "q string")
            qrow = embed_column(qdf, "q", "emb", query_model, query_runtime).first()
            query_vec = [float(x) for x in qrow["emb"]]
        df = self.read(name)
        if use_index:
            from lantern_extras_spark.operators.hnsw import hnsw_topk, load_hnsw

            idx_path, catalog = self._resolve_index(name, vec_col)
            built_metric = catalog.get("metric_kind", "l2sq")
            if built_metric != metric:
                raise ValueError(
                    f"index at {idx_path!r} was built with metric "
                    f"{built_metric!r}; search requested {metric!r} — "
                    "rebuild the index or request the matching metric"
                )
            hits = hnsw_topk(
                load_hnsw(self.spark, idx_path),
                [float(x) for x in query_vec],
                k=k,
                ef=ef or catalog.get("ef"),
                id_col=catalog.get("id_col", "id"),
            ).withColumnRenamed("dist", "distance")
            return df.join(F.broadcast(hits), "id", "inner").select(
                *df.columns, "distance"
            ).orderBy(F.col("distance").asc(), F.col("id").asc())
        q = F.lit([float(x) for x in query_vec]).cast("array<double>")
        return (
            df.withColumn("distance", distance_col(metric, F.col(vec_col), q))
            .orderBy(F.col("distance").asc(), F.col("id").asc())
            .limit(k)
        )
