from trisk_datawrangle_spark.plans.pipelines import (  # noqa: F401
    flagship_market_share,
    yearly_revenue_series,
)
from trisk_datawrangle_spark.plans.abcd import (  # noqa: F401
    prepare_abcd_data,
    prepare_asset_impact_data,
)
from trisk_datawrangle_spark.plans.financial import (  # noqa: F401
    prepare_financial_data,
)
from trisk_datawrangle_spark.plans.scenarios import (  # noqa: F401
    prepare_scenarios_analysis_input,
)
from trisk_datawrangle_spark.plans.capacity_factors import (  # noqa: F401
    prepare_capacity_factors,
)
from trisk_datawrangle_spark.plans.prices import (  # noqa: F401
    prepare_ngfs_carbon_price,
    prepare_price_data_long,
)
from trisk_datawrangle_spark.plans.trisk_v2 import (  # noqa: F401
    align_to_common_scenarios,
    assemble_assets_data,
    assemble_scenarios_data,
)
