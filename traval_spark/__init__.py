"""traval_spark: a PySpark-native time-series rollup + validation engine.

Brand-new engine with the query/data-processing capabilities of
ArtesiaWater/traval (reference at /root/reference, studied not ported):
rule-based error detection compiled to lazy DataFrame plans, series
comparison / binary classification as join+agg algebra, plus a
from-scratch continuous-aggregate pipeline (tumbling rollups raw->1m->1h->1d,
gap-fill, Gorilla/delta-of-delta compression, salted skew handling,
checkpoint/resume with lineage manifests) over tokenized-sequence tables.
"""

from traval_spark.codes import CorrectionCode  # noqa: F401
from traval_spark.functions.masks import (  # noqa: F401
    get_correction_status_name,
)
from traval_spark.comparison import (  # noqa: F401
    binary_classification,
    compare_series,
    compare_series_relative,
    summarize_comparison,
    summarize_relative,
    threshold_sweep,
    with_classifier_stats,
)
from traval_spark.plans.comparison_plots import (  # noqa: F401
    ComparisonPlots,
    det_plot,
    plot_relative_comparison,
    plot_series_comparison,
    plot_validation_result,
    relative_comparison_frame,
    roc_plot,
    series_comparison_frame,
)
from traval_spark.plans.detector import Detector  # noqa: F401
from traval_spark.plans.params import TravalParameters  # noqa: F401
from traval_spark.plans.ruleset import ParamRef, SparkRuleSet, apply_ruleset  # noqa: F401
from traval_spark.session import get_spark, held, hold  # noqa: F401

# drop-in names for code ported from the reference package
# (/root/reference/traval/__init__.py): `from traval import RuleSet,
# rulelib` becomes `from traval_spark import RuleSet, rulelib`
from traval_spark.operators import rules as rulelib  # noqa: F401
from traval_spark.functions import ts as ts_utils  # noqa: F401

RuleSet = SparkRuleSet

__version__ = "0.1.0"
