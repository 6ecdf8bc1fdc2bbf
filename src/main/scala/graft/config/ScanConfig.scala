package graft.config

/** Engine configuration, mirroring the reference's 13-option CLI surface
  * (whiteRRabbit.R:29-83) plus engine-level additions for reproducibility
  * and 100 TB operation.
  *
  * Reference option → field mapping:
  *   --working_folder  → workingFolder   (whiteRRabbit.R:30-33)
  *   --delimiter       → delimiter       (whiteRRabbit.R:34-37)
  *   --output_dir      → outputDir       (whiteRRabbit.R:38-41)
  *   --output_format   → outputFormat    (whiteRRabbit.R:42-46)
  *   --maxRows         → maxRows         (whiteRRabbit.R:47-50; -1 = all)
  *   --maxDistinctValues → maxDistinctValues (whiteRRabbit.R:51-54)
  *   --prefix          → prefix          (whiteRRabbit.R:55-58)
  *   --cpus            → cpus            (whiteRRabbit.R:59-62)
  *   --exclude_cols    → excludeCols     (whiteRRabbit.R:63-66)
  *   --shift_dates     → shiftDates      (whiteRRabbit.R:67-70)
  *   --scan_field_values → scanFieldValues (whiteRRabbit.R:71-74)
  *   --min_cell_count  → minCellCount    (whiteRRabbit.R:75-78)
  *   --random_sample   → randomSample    (whiteRRabbit.R:79-82)
  *
  * Engine additions (not in the reference):
  *   - seed: the reference's sampling and date shift are unseeded
  *     (whiteRRabbit.R:252, :288); a fixed seed makes runs reproducible
  *     and oracle-checkable.
  *   - exactQuantiles: the reference computes exact quantiles in memory
  *     (whiteRRabbit.R:365-372). The exact default computes exact
  *     distinct counts and type-7 quantiles from the per-column value
  *     histogram (no value buffering — Profile.histogramStats).
  *     exactQuantiles=false switches the profile to
  *     Profile.summarizeApprox, whose state stays constant-size even for
  *     columns whose histogram would approach the row count, under an
  *     error contract instead of exactness: distinct counts are HLL++
  *     estimates at relative standard deviation 0.05, and each quartile
  *     or date median is within rank error 1/quantileAccuracy of the
  *     exact one. Counters and min/max stay exact; mean and sd agree
  *     with the exact path up to floating-point summation order.
  */
final case class ScanConfig(
    workingFolder: String = ".",
    delimiter: String = "tab",
    outputDir: String = ".",
    outputFormat: String = "xlsx", // reference default, whiteRRabbit.R:43-44
    maxRows: Long = 100000L,
    maxDistinctValues: Int = 1000,
    prefix: String = "ScanReport",
    cpus: Int = 1,
    excludeCols: Seq[String] = Nil,
    shiftDates: Boolean = false,
    scanFieldValues: Boolean = true,
    minCellCount: Long = 5L,
    randomSample: Boolean = true,
    seed: Long = 42L,
    exactQuantiles: Boolean = true,
    // sketch quantile accuracy: 1000 ≈ ±0.1% rank error. The sketch
    // gets MORE expensive to update at high accuracy (percentile_approx
    // measured 45s vs 11s for exact percentile at sf0.1 with
    // accuracy=10000).
    quantileAccuracy: Int = 1000
) {
  /** Field separator implied by the delimiter choice (whiteRRabbit.R:110-116). */
  def sep: String = if (delimiter == "tab") "\t" else ","

  /** File glob implied by the delimiter choice (whiteRRabbit.R:111-115). */
  def filePattern: String = if (delimiter == "tab") "*.tsv" else "*.csv"
}
