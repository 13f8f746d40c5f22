"""End-to-end replica of the reference's robot-execution-failures pipeline
(/root/reference/tests/integrations/test_full_pipeline.py): wide 88×15×6
frame → melt → extract → impute → pivot → select.  Hermetic via the
deterministic clone (FIXTURES.md F4)."""

from pyspark.sql import functions as F

from tsfresh_spark.extract import extract_features_long, melt_wide, pivot_features
from tsfresh_spark.operators.impute import impute_long
from tsfresh_spark.operators.selection import select_features
from tsfresh_spark.settings import minimal_settings, settings_from_feature_names
from tsfresh_spark.sources.synthetic import robot_failures_clone


def test_full_pipeline(spark):
    wide = robot_failures_clone(spark)
    assert wide.count() == 88 * 15
    assert set(wide.columns) == {"id", "time", "F_x", "F_y", "F_z", "T_x", "T_y", "T_z"}

    long_df = melt_wide(wide, column_id="id", column_sort="time")
    assert long_df.count() == 88 * 15 * 6

    feats = extract_features_long(
        long_df, minimal_settings(), column_id="id", column_kind="kind",
        column_sort="time",
    )
    imputed = impute_long(feats)
    wide_feats = pivot_features(imputed.drop("kind"), id_cols="id").cache()
    assert wide_feats.count() == 88
    assert len(wide_feats.columns) == 1 + 6 * len(minimal_settings())
    # feature-name grammar: every column parses back
    rebuilt = settings_from_feature_names([c for c in wide_feats.columns if c != "id"])
    assert set(rebuilt) == {"F_x", "F_y", "F_z", "T_x", "T_y", "T_z"}

    # selection against a label derived from the data (mean F_x sign):
    # informative by construction, so the selector must keep F_x features
    fx_mean = (
        wide.groupBy("id").agg(F.avg("F_x").alias("m")).toPandas().set_index("id").m
    )
    y = (fx_mean > fx_mean.median()).astype(int)
    selected, table = select_features(wide_feats, y, id_col="id")
    kept = set(selected.columns) - {"id"}
    assert any(c.startswith("F_x__") for c in kept)
    assert (table.p_value.dropna() <= 1).all()
    wide_feats.unpersist()
