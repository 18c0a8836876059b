from navigator_data_ingest_spark.plans.audit import (  # noqa: F401
    codegen_stage_count,
    formatted_plan,
    plan_audit,
    pushed_filters,
)
