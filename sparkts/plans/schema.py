"""Plan-time output-schema derivation.

``mapInPandas`` needs the output StructType *before* execution, so the
schema is computed eagerly from (models, levels) — the same pattern the
reference uses for its distributed path (reference fugue.py:238-269
``_get_output_schema``). Column naming matches the reference convention:
``{alias}``, ``{alias}-lo-{level}``, ``{alias}-hi-{level}``
(reference core.py:126-130).

Values are float64 here (the reference narrows to float32 for transport,
fugue.py:258-263; we keep doubles so DuckDB-oracle comparisons are exact and
downcast only at the storage boundary).
"""

from __future__ import annotations

from pyspark.sql import types as T


def model_columns(models, level: list[int] | None) -> list[str]:
    cols = []
    for m in models:
        cols.append(repr(m))
        for lv in sorted(level or []):
            cols.append(f"{m!r}-lo-{lv}")
            cols.append(f"{m!r}-hi-{lv}")
    return cols


def _base_fields(id_field: T.StructField, time_field: T.StructField) -> list[T.StructField]:
    return [
        T.StructField(id_field.name, id_field.dataType, True),
        T.StructField(time_field.name, time_field.dataType, True),
    ]


def forecast_schema(id_field, time_field, models, level=None) -> T.StructType:
    fields = _base_fields(id_field, time_field)
    fields += [T.StructField(c, T.DoubleType(), True) for c in model_columns(models, level)]
    return T.StructType(fields)


def fitted_schema(id_field, time_field, target_col, models, level=None) -> T.StructType:
    fields = _base_fields(id_field, time_field)
    fields.append(T.StructField(target_col, T.DoubleType(), True))
    fields += [T.StructField(c, T.DoubleType(), True) for c in model_columns(models, level)]
    return T.StructType(fields)


def simulate_schema(id_field, time_field, models) -> T.StructType:
    """simulate output: id, ds, sample_id, <model cols>
    (reference core.py:1076-1093)."""
    fields = _base_fields(id_field, time_field)
    fields.append(T.StructField("sample_id", T.IntegerType(), True))
    fields += [T.StructField(repr(m), T.DoubleType(), True) for m in models]
    return T.StructType(fields)


def cv_schema(id_field, time_field, target_col, models, level=None) -> T.StructType:
    """cross_validation output: id, ds, cutoff, y, <model cols>
    (reference core.py:1246-1257)."""
    fields = _base_fields(id_field, time_field)
    fields.append(T.StructField("cutoff", time_field.dataType, True))
    fields.append(T.StructField(target_col, T.DoubleType(), True))
    fields += [T.StructField(c, T.DoubleType(), True) for c in model_columns(models, level)]
    return T.StructType(fields)
