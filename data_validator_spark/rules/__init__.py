from data_validator_spark.rules.spec import (  # noqa: F401
    HARD,
    SOFT,
    WARNING,
    Rule,
    allowed_set,
    bounds,
    not_empty,
    regex_format,
    required,
    required_when,
)
from data_validator_spark.rules.compiler import (  # noqa: F401
    apply_rules,
    hard_violations,
    message_columns,
)
from data_validator_spark.rules.derive import (  # noqa: F401
    rules_from_suggestions,
)
