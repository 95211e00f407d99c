from streamalert_spark.alerts.model import ALERT_SCHEMA
from streamalert_spark.alerts.merge import merge_alerts_batch, merge_common_subset, merge_value_diffs

__all__ = ["ALERT_SCHEMA", "merge_alerts_batch", "merge_common_subset", "merge_value_diffs"]
