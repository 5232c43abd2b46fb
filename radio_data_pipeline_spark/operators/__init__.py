from radio_data_pipeline_spark.operators.filters import (  # noqa: F401
    select_stream,
    time_range_predicate,
    filter_time_ranges,
    frequency_channel_mask,
    filter_frequency_ranges,
)
from radio_data_pipeline_spark.operators.validation import (  # noqa: F401
    mask_nan_values,
    physical_filter,
    crop_channels,
    validate_observation,
)
from radio_data_pipeline_spark.operators.merge import merge_observations  # noqa: F401
from radio_data_pipeline_spark.operators.integrate import (  # noqa: F401
    integrate_continuum,
    integrate_spectrum,
    on_off_spectrum,
)
from radio_data_pipeline_spark.operators.segmentation import (  # noqa: F401
    find_calibrations,
    label_segments,
)
from radio_data_pipeline_spark.operators.calibration import (  # noqa: F401
    rcr_fit_segments,
    calibration_height,
    apply_gain_calibration,
)
from radio_data_pipeline_spark.operators.atmosphere import (  # noqa: F401
    buck_vapor_density_expr,
    apply_atmosphere_correction,
)
