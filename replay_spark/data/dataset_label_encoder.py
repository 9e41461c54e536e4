"""Whole-Dataset categorical encoding driven by the feature schema.

Builds one :class:`~replay_spark.preprocessing.label_encoder.LabelEncodingRule`
(or ``SequenceEncodingRule`` for ``CATEGORICAL_LIST`` columns) per
categorical feature of a :class:`~replay_spark.data.Dataset`, choosing
the fit table by role: id columns fit on their feature table when one
exists (its id universe is a superset of the interactions' by the
Dataset consistency contract), everything else fits on its source
table. Parity: reference ``data/dataset_utils/dataset_label_encoder.py:20``.

All rules are fitted together in ONE Spark action: their distinct
values are stacked and numbered at once, and each mapping is a lazy
projection over the shared persisted code table, which this encoder
owns. Every mapping stays a Spark DataFrame joined at transform time
(no driver-side dictionaries at any cardinality), and a transform
runs a single unknown-value check covering every ``'error'`` column.
"""

from __future__ import annotations

import warnings
from typing import Iterable, Optional, Sequence, Union

from replay_spark.data.dataset import Dataset
from replay_spark.data.schema import (
    FeatureHint,
    FeatureSchema,
    FeatureSource,
    FeatureType,
)
from replay_spark.preprocessing.label_encoder import (
    LabelEncoder,
    LabelEncodingRule,
    SequenceEncodingRule,
    _fit_rules,
    _raise_on_unknown,
    _release,
)

__all__ = ["DatasetLabelEncoder", "LabelEncoderTransformWarning"]

_TABLE_BY_SOURCE = {
    FeatureSource.INTERACTIONS: "interactions",
    FeatureSource.QUERY_FEATURES: "query_features",
    FeatureSource.ITEM_FEATURES: "item_features",
}
_FEATURE_TABLE_BY_HINT = {
    FeatureHint.QUERY_ID: "query_features",
    FeatureHint.ITEM_ID: "item_features",
}


class LabelEncoderTransformWarning(Warning):
    """A categorical column could not be transformed as fitted."""


def _target_tables(info, dataset: Dataset) -> list:
    """The Dataset attributes a fitted column is encoded in; the last
    one is its fit table."""
    feature_table = _FEATURE_TABLE_BY_HINT.get(info.feature_hint)
    if feature_table is None:
        return [_TABLE_BY_SOURCE[info.feature_source]]
    if getattr(dataset, feature_table) is None:
        return ["interactions"]
    return ["interactions", feature_table]


class DatasetLabelEncoder:
    """Encode every categorical feature of a Dataset to dense ids.

    Owns the code table its ``fit`` persists and unpersists it on the
    next ``fit``; rules handed out by :meth:`get_encoder` read it.
    """

    def __init__(
        self,
        handle_unknown_rule: str = "error",
        default_value_rule: Optional[Union[int, str]] = None,
    ) -> None:
        self._handle_unknown_rule = handle_unknown_rule
        self._default_value_rule = default_value_rule
        self._encoding_rules: dict[str, LabelEncodingRule] = {}
        self._fit_tables: dict[str, str] = {}
        self._features_columns: dict = {}
        self._tables: list = []

    def fit(self, dataset: Dataset) -> "DatasetLabelEncoder":
        """Fit one encoding rule per categorical feature, all in one
        Spark action."""
        self._fill_features_columns(dataset.feature_schema)
        rules, fit_tables = {}, {}
        for column, info in dataset.feature_schema.categorical_features.items():
            rule_cls = (
                SequenceEncodingRule
                if info.feature_type == FeatureType.CATEGORICAL_LIST
                else LabelEncodingRule
            )
            rules[column] = rule_cls(
                column,
                handle_unknown=self._handle_unknown_rule,
                default_value=self._default_value_rule,
            )
            fit_tables[column] = _target_tables(info, dataset)[-1]
        _release(self._tables)
        self._tables = _fit_rules(
            [(rules[c], getattr(dataset, fit_tables[c])) for c in rules]
        )
        self._encoding_rules, self._fit_tables = rules, fit_tables
        return self

    def transform(self, dataset: Dataset) -> Dataset:
        """Return a new Dataset with all fitted columns encoded."""
        return self._transform(dataset)

    def _transform(self, dataset: Dataset, fitted_on_it: bool = False) -> Dataset:
        """``fitted_on_it``: ``dataset`` is the one just fitted, so a
        column encoded in its own fit table needs no unknown check
        unless its fit saw a null."""
        self._check_if_initialized()
        tables = {
            name: getattr(dataset, name)
            for name in ("interactions", "query_features", "item_features")
        }
        probes = []
        for column, info in dataset.feature_schema.categorical_features.items():
            rule = self._encoding_rules.get(column)
            if rule is None:
                warnings.warn(
                    f"Cannot transform feature '{column}' as it was not "
                    "present at the fit stage",
                    LabelEncoderTransformWarning,
                )
                continue
            for name in _target_tables(info, dataset):
                own_table = fitted_on_it and name == self._fit_tables[column]
                probes += rule._probes(tables[name], own_table)
                tables[name] = rule._encode(tables[name])
        _raise_on_unknown(probes)
        return Dataset(
            feature_schema=dataset.feature_schema,
            check_consistency=False,
            categorical_encoded=True,
            **tables,
        )

    def fit_transform(self, dataset: Dataset) -> Dataset:
        return self.fit(dataset)._transform(dataset, fitted_on_it=True)

    def get_encoder(
        self, columns: Union[str, Iterable[str]]
    ) -> Optional[LabelEncoder]:
        """Bundle the fitted rules for ``columns`` into a LabelEncoder."""
        self._check_if_initialized()
        wanted = {columns} if isinstance(columns, str) else set(columns)
        rules = [
            rule
            for column, rule in self._encoding_rules.items()
            if column in wanted
        ]
        if not rules:
            return None
        return LabelEncoder(rules)

    @property
    def query_id_encoder(self) -> LabelEncoder:
        return self._require_encoder(self._features_columns[FeatureHint.QUERY_ID])

    @property
    def item_id_encoder(self) -> LabelEncoder:
        return self._require_encoder(self._features_columns[FeatureHint.ITEM_ID])

    @property
    def query_and_item_id_encoder(self) -> LabelEncoder:
        return self._require_encoder(
            self._features_columns[FeatureHint.QUERY_ID]
            + self._features_columns[FeatureHint.ITEM_ID]
        )

    def _require_encoder(self, columns: Sequence[str]) -> LabelEncoder:
        encoder = self.get_encoder(columns)
        if encoder is None:
            raise RuntimeError(f"No fitted encoder for columns {list(columns)}")
        return encoder

    def _fill_features_columns(self, schema: FeatureSchema) -> None:
        self._features_columns = {
            FeatureHint.QUERY_ID: [schema.query_id_column],
            FeatureHint.ITEM_ID: [schema.item_id_column],
            FeatureSource.INTERACTIONS: schema.interaction_features.columns,
            FeatureSource.QUERY_FEATURES: schema.query_features.columns,
            FeatureSource.ITEM_FEATURES: schema.item_features.columns,
        }

    def _check_if_initialized(self) -> None:
        if not self._encoding_rules:
            raise RuntimeError("DatasetLabelEncoder is not fitted")
