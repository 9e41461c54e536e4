"""CatPopRec — popularity within a category tree.

Recommend items popular inside a category (or any of its leaf
descendants). The category tree is expanded to a
``category → leaf_cat`` mapping by iterative self-join until
fixpoint (one observed ``spark_utils.fixpoint`` round per tree level).
Parity: reference ``models/cat_pop_rec.py:23-293``.
"""

from __future__ import annotations

from typing import Iterable, Optional, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from replay_spark.utils.spark_utils import fixpoint, observed_rows, release

__all__ = ["CatPopRec"]


class CatPopRec:
    def __init__(
        self,
        cat_tree: Optional[DataFrame] = None,
        max_iter: int = 20,
        query_column: str = "query_id",
        item_column: str = "item_id",
        rating_column: Optional[str] = "rating",
        category_column: str = "category",
    ):
        self.cat_tree = cat_tree
        self.max_iter = max_iter
        self.query_column = query_column
        self.item_column = item_column
        self.rating_column = rating_column
        self.category_column = category_column
        self.leaf_cat_mapping: Optional[DataFrame] = None
        if cat_tree is not None:
            self.set_cat_tree(cat_tree)

    def set_cat_tree(self, cat_tree: DataFrame) -> None:
        """Expand (parent_cat, category) edges to category→leaf pairs."""
        edges = cat_tree.select(
            F.col("parent_cat").alias("anc"), F.col("category").alias("desc")
        )
        # leaves: categories that are never parents
        leaves = edges.select(F.col("desc").alias("cat")).distinct().join(
            edges.select(F.col("anc").alias("cat")), on="cat", how="left_anti"
        )
        # transitive closure from each node down to leaves, done when
        # a round adds no pair (counted on the union branch only)
        children = edges.select(
            F.col("anc").alias("desc"), F.col("desc").alias("next_desc")
        )

        def step(closure: DataFrame, seen: dict) -> DataFrame:
            expanded = closure.join(children, on="desc").select(
                "category", F.col("next_desc").alias("desc")
            )
            return (
                closure.observe("closure_in", F.count(F.lit(1)).alias("rows"))
                .union(expanded)
                .distinct()
                .observe("closure_out", F.count(F.lit(1)).alias("rows"))
            )

        closure, _, _ = fixpoint(
            edges.select(F.col("anc").alias("category"), F.col("desc")),
            step,
            self.max_iter,
            "CatPopRec category closure",
            done=lambda seen: observed_rows(seen, "closure_out")
            == observed_rows(seen, "closure_in"),
        )
        leaf_map = closure.join(
            leaves.select(F.col("cat").alias("desc")), on="desc", how="left_semi"
        ).select("category", F.col("desc").alias("leaf_cat"))
        # every leaf also maps to itself
        self_map = leaves.select(
            F.col("cat").alias("category"), F.col("cat").alias("leaf_cat")
        )
        self.leaf_cat_mapping = leaf_map.union(self_map).distinct().cache()
        self.leaf_cat_mapping.count()
        release(closure)

    def fit(self, interactions: DataFrame) -> "CatPopRec":
        """``interactions``: [query_id, item_id, category(, rating)]."""
        if self.rating_column and self.rating_column in interactions.columns:
            agg = F.sum(self.rating_column).alias("rating")
        else:
            agg = F.count(self.item_column).alias("rating")
        self.cat_item_popularity = interactions.groupBy(
            self.category_column, self.item_column
        ).agg(agg)
        self.cat_item_popularity.cache().count()
        return self

    def predict(
        self,
        categories: Union[DataFrame, Iterable],
        k: int,
        items: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Top-k items per category, popularity normalized within the
        category's leaf-descendant set."""
        spark = SparkSession.getActiveSession()
        if not isinstance(categories, DataFrame):
            categories = spark.createDataFrame(
                [(c,) for c in categories], [self.category_column]
            )
        if self.leaf_cat_mapping is not None:
            cat_leaves = categories.join(
                self.leaf_cat_mapping, on=self.category_column, how="inner"
            )
        else:
            cat_leaves = categories.withColumn(
                "leaf_cat", F.col(self.category_column)
            )
        pop = self.cat_item_popularity.withColumnRenamed(
            self.category_column, "leaf_cat"
        )
        res = cat_leaves.join(pop, on="leaf_cat")
        if items is not None:
            res = res.join(items, on=self.item_column, how="left_semi")
        agg = res.groupBy(self.category_column, self.item_column).agg(
            F.sum("rating").alias("rating")
        )
        totals = agg.groupBy(self.category_column).agg(
            F.sum("rating").alias("_total")
        )
        scored = agg.join(totals, on=self.category_column).withColumn(
            "rating", F.col("rating") / F.col("_total")
        ).drop("_total")
        w = Window.partitionBy(self.category_column).orderBy(
            F.col("rating").desc(), F.col(self.item_column).asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def save(self, path: str) -> None:
        """Persist fitted state (reference CatPopRec is IsSavable)."""
        import json
        from pathlib import Path

        base = Path(path)
        base.mkdir(parents=True, exist_ok=True)
        meta = {
            "class": "CatPopRec",
            "init_args": {
                "max_iter": self.max_iter,
                "query_column": self.query_column,
                "item_column": self.item_column,
                "rating_column": self.rating_column,
                "category_column": self.category_column,
            },
        }
        (base / "meta.json").write_text(json.dumps(meta))
        if getattr(self, "cat_item_popularity", None) is not None:
            self.cat_item_popularity.write.mode("overwrite").parquet(
                str(base / "cat_item_popularity.parquet")
            )
        if self.leaf_cat_mapping is not None:
            self.leaf_cat_mapping.write.mode("overwrite").parquet(
                str(base / "leaf_cat_mapping.parquet")
            )

    @classmethod
    def load(
        cls, path: str, spark: Optional[SparkSession] = None
    ) -> "CatPopRec":
        import json
        from pathlib import Path

        spark = spark or SparkSession.getActiveSession()
        base = Path(path)
        meta = json.loads((base / "meta.json").read_text())
        model = cls(**meta["init_args"])
        pop = base / "cat_item_popularity.parquet"
        if pop.exists():
            model.cat_item_popularity = spark.read.parquet(str(pop)).cache()
        mapping = base / "leaf_cat_mapping.parquet"
        if mapping.exists():
            model.leaf_cat_mapping = spark.read.parquet(str(mapping))
        return model
