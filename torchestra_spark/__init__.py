"""torchestra_spark — a PySpark-native feature-engineering engine.

Reimplements the fit/transform semantics of the reference library
(jussi-kalliokoski/torchestra, see /root/reference) as a Spark-first,
point-in-time feature store:

* two-phase *fit* (distributed partial aggregation -> driver finalize)
  and *transform* (pure Column expressions / vectorized Arrow UDFs —
  never per-row Python),
* the reference's operator inventory: scalers (StandardScore,
  MinMaxScale, MeanScale, RobustScale, TDigestDistribution), categorical
  lookups (Count/Ratio/Index + Int variants) with vocabulary eliminators
  (NoThreshold/MinThreshold/RatioThreshold/TopK), tensor wrappers
  (NanToNum, Clamp, ...), ragged-sequence ops (SparseTrunc/TruncPad/
  Len/MapSequences) over ``array<int32>`` token columns,
* pipeline composition with staged dependency-wave fitting (one Spark
  job per wave, mirroring the reference StatsPlan),
* the temporal extensions mandated by the driver: as-of join, lag/lead,
  fill-forward backfill, gap sessionization over entity x timestamp,
* state artifacts (JSON) that round-trip exactly, per-partition
  checkpointing with lineage + metrics for resumable jobs.

The architecture is idiomatic PySpark: logical plans are declared with
the DataFrame API and Catalyst/Tungsten pick the physical strategy;
Python only runs inside Arrow UDFs (t-digest CDFs, broadcast-dict
lookups, the broadcast as-of match), Arrow map and co-group
functions (t-digest sketches, tokenization, the per-entity as-of
match) and driver-side finalization of tiny stats.
"""

from torchestra_spark.core import Transform, FittedTransform, MultiTransform, FitKind, Col
from torchestra_spark.state import StateArtifact
from torchestra_spark.operators.scalers import (
    MeanScale,
    MinMaxScale,
    StackedScaler,
    StandardScore,
    RobustScale,
    TDigestDistribution,
)
from torchestra_spark.operators.wrappers import (
    NanToNum,
    Clamp,
    Identity,
    ToStr,
    ToDouble,
    Unsqueeze,
    stack,
    cat,
    split_to_cols,
)
from torchestra_spark.operators.lookups import (
    CountLookup,
    HashBucket,
    fused_lookups,
    RatioLookup,
    IndexLookup,
    IntCountLookup,
    IntRatioLookup,
    IntIndexLookup,
    NoThreshold,
    MinThreshold,
    RatioThreshold,
    TopK,
    sort_counts,
)
from torchestra_spark.operators.multi import (
    Ratio,
    Diff,
    Product,
    SumOf,
    LinearCombination,
    Greatest,
    Least,
)
from torchestra_spark.plans.pipeline import Pipeline, Feature, combine_features
from torchestra_spark.featurestore import FeatureStore
from torchestra_spark.checkpoint import CheckpointedWriter, IncrementalMaterializer, SnapshotStore

__all__ = [
    "Transform",
    "FittedTransform",
    "MultiTransform",
    "FitKind",
    "Col",
    "Ratio",
    "Diff",
    "Product",
    "SumOf",
    "LinearCombination",
    "Greatest",
    "Least",
    "StateArtifact",
    "MeanScale",
    "MinMaxScale",
    "StackedScaler",
    "StandardScore",
    "RobustScale",
    "TDigestDistribution",
    "NanToNum",
    "Clamp",
    "Identity",
    "ToStr",
    "ToDouble",
    "Unsqueeze",
    "stack",
    "cat",
    "split_to_cols",
    "CountLookup",
    "HashBucket",
    "RatioLookup",
    "IndexLookup",
    "IntCountLookup",
    "IntRatioLookup",
    "IntIndexLookup",
    "NoThreshold",
    "MinThreshold",
    "RatioThreshold",
    "TopK",
    "sort_counts",
    "fused_lookups",
    "Pipeline",
    "Feature",
    "combine_features",
    "FeatureStore",
    "CheckpointedWriter",
    "IncrementalMaterializer",
    "SnapshotStore",
]

__version__ = "0.1.0"
