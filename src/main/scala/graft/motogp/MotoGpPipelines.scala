package graft.motogp

import graft.operators.{FuzzyMatch, Ops}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seven integrated tables of the reference's star schema, composed
  * Spark-first from the operator library. Each `lazy val` mirrors one
  * branch of the reference DAG (/root/reference/motogp.ktr; stage
  * citations below use its step names — full trace in SURVEY.md §3).
  *
  * Faithfulness notes:
  *  - Join duplicate-name collisions reproduce Kettle's case-insensitive
  *    `_N` suffixing where downstream steps reference those names; debris
  *    columns the reference's SelectValues drop are simply never carried.
  *  - Sequence ids (`circuit_id`, `id_race`, `team_id`, `quali_id`,
  *    `race_id`, `id_rider_seq`) are contiguous 1-based. Kettle assigns
  *    them in single-threaded stream arrival order; this port pins each
  *    to a documented deterministic order (file order for sources, a
  *    projection of the scan position; an explicit sort where the
  *    reference assigns mid-stream).
  *  - Both fuzzy matches (FM1, FM2) score each distinct circuit key once
  *    and need no synthetic row id (see [[FuzzyMatch.bestMatch]]).
  *  - Case-insensitive Kettle sorts (`cs:N`) become `lower(...)` sort
  *    keys where string order is observable in an output.
  */
class MotoGpPipelines(spark: SparkSession, paths: MotoGpPaths) {

  private def csv(p: String, s: org.apache.spark.sql.types.StructType) =
    MotoGpSources.csv(spark, p, s)
  private def json(p: String, s: org.apache.spark.sql.types.StructType) =
    MotoGpSources.json(spark, p, s)

  /** Contiguous 1-based id in file/stream order (Kettle `Add sequence`
    * on a source stream) — [[Ops.zipWithIndexFileOrder]]: one eager job
    * counts the rows of each scan partition, then the id is a projection
    * of the scan's own (partition, row) position — what `rdd.zipWithIndex`
    * counted, without its ExistingRDD barrier on `resultsBase` (the
    * race-results FACT table) and without a range exchange or window on
    * every re-execution of the four sourced sequences.
    */
  private def seqIdFileOrder(df: DataFrame, name: String): DataFrame =
    Ops.zipWithIndexFileOrder(df, name)

  // ------------------------------------------------------------------ //
  // sources (§2.1 S1-S10)
  // ------------------------------------------------------------------ //
  lazy val bikesSrc: DataFrame = csv(paths.bikesPath, MotoGpSchemas.bikes)
  lazy val ridersSrc: DataFrame = csv(paths.ridersPath, MotoGpSchemas.riders)
  lazy val teamsSrc: DataFrame = csv(paths.teamsPath, MotoGpSchemas.teams)
  lazy val raceResultsSrc: DataFrame = csv(paths.raceResultsPath, MotoGpSchemas.raceResults)
  lazy val circuitsSrc: DataFrame = csv(paths.circuitsPath, MotoGpSchemas.circuits)
  lazy val constructorsSrc: DataFrame = csv(paths.constructorsPath, MotoGpSchemas.constructors)
  lazy val ridersPositionsSrc: DataFrame = csv(paths.ridersPositionsPath, MotoGpSchemas.ridersPositions)
  lazy val ridersInfoSrc: DataFrame = csv(paths.ridersInfoPath, MotoGpSchemas.ridersInfo)
  lazy val qualiSrc: DataFrame = csv(paths.qualiPath, MotoGpSchemas.quali)
  lazy val racesSrc: DataFrame = json(paths.racesPath, MotoGpSchemas.races)
  lazy val weatherSrc: DataFrame = json(paths.weatherPath, MotoGpSchemas.weather)

  // ------------------------------------------------------------------ //
  // Entry 1 — Race / Weather / Circuit spine
  // ------------------------------------------------------------------ //

  /** `Select values 3`: weather renames + Date cast. */
  lazy val weatherTyped: DataFrame = weatherSrc.select(
    col("Circuito").as("circuit_name"),
    to_date(col("Data"), "yyyy-MM-dd").as("date"),
    col("Temp_Max").as("temp_max"), col("Temp_Min").as("temp_min"),
    col("Precipitazione").as("rain"), col("Condizione_Meteo").as("condition"))

  /** `Select values 4`: races renames + Date cast. */
  lazy val racesTyped: DataFrame = racesSrc.select(
    col("Anno").as("year"), to_date(col("Data"), "yyyy-MM-dd").as("date"),
    col("Circuito").as("circuit_name3"), col("Nome_Ufficiale").as("off_name"),
    col("Percorso").as("info"), col("Notturna").as("night_race"),
    col("Latitudine").as("lat"), col("Longitudine").as("long"))

  /** `Merge join 8` INNER on date (right key survives as `date_1`) +
    * `Select values 5` + `String operations 2` (lower circuit_name3). */
  lazy val weatherRaces: DataFrame = weatherTyped
    .join(racesTyped.withColumnRenamed("date", "date_1"),
      col("date") === col("date_1"), "inner")
    .select(col("circuit_name"), col("date"), col("temp_max"), col("temp_min"),
      col("rain"), col("condition"), col("year"), col("date_1"),
      col("circuit_name3"), col("off_name"), col("info"), col("night_race"),
      col("lat"), col("long"))
    .withColumn("circuit_name3", lower(trim(col("circuit_name3"))))

  /** `Edit Name` renames + `Trim` (lower circuit_name, trim attrs) +
    * `ADD id` (circuit_id in file order). */
  lazy val circuitsPrepared: DataFrame = seqIdFileOrder(
    circuitsSrc.select(
      lower(trim(col("Name"))).as("circuit_name"),
      col("Lat").as("lat"), col("Long").as("long"),
      trim(col("Country")).as("country"),
      trim(col("Pole Position")).as("pole_position"),
      col("Length in meters").as("length"),
      trim(col("Width in meters")).as("width"),
      col("Right Corners").as("right_corners"),
      col("Left Corners").as("left_corners"),
      col("Longest Straight").as("longest_straight"),
      col("Constructed").as("constructed"),
      col("Modified").as("modifies")),
    "circuit_id")

  /** `Fuzzy match` (FM1): weather+race rows best-matched against the
    * circuit dimension on Jaro-Winkler; appends the circuit columns
    * (`Select values 7` shapes the lookup, `name_circuit` key). The
    * colliding appended `lat`/`long` are the debris the reference drops —
    * never carried here.
    */
  lazy val weatherRacesCircuits: DataFrame = {
    val lookup = circuitsPrepared.select(
      col("circuit_name").as("name_circuit"), col("lat"), col("long"),
      col("country"), col("pole_position"), col("length"), col("width"),
      col("right_corners"), col("left_corners"), col("longest_straight"),
      col("constructed"), col("modifies"), col("circuit_id"))
    FuzzyMatch.bestMatch(weatherRaces, "circuit_name3",
        lookup, "name_circuit",
        Seq("name_circuit", "lat", "long", "country", "pole_position",
          "length", "width", "right_corners", "left_corners",
          "longest_straight", "constructed", "modifies", "circuit_id"),
        matchCol = "corrispondenza", scoreCol = "valore di misura",
        lookupOrder = Seq(col("circuit_id"))) // Kettle load order = file order
  }

  /** `Select values 6` + `ADD id 2` — the spine with `id_race`.
    * Kettle assigns id_race in stream order (weather file order); pinned
    * here to (date, circuit_name3) which is that order, made explicit.
    */
  lazy val raceSpine: DataFrame = Ops.sequenceId(
    weatherRacesCircuits.select(
      col("circuit_name"), col("date"), col("temp_max"), col("temp_min"),
      col("rain"), col("condition"), col("year"), col("circuit_name3"),
      col("off_name"), col("info"), col("night_race"), col("lat"),
      col("long"), col("country"), col("circuit_id")),
    Seq(col("date").asc, col("circuit_name3").asc), "id_race")

  /** `Select values 6 2` → Race Table. */
  lazy val raceTable: DataFrame = raceSpine.select(
    col("circuit_name"), col("date"), col("year"), col("circuit_name3"),
    col("off_name"), col("country"), col("circuit_id"), col("id_race"))

  /** `Select values 5 2` + `String operations 2 2` → Info Race. */
  lazy val infoRace: DataFrame = raceSpine.select(
    col("temp_max"), col("temp_min"), col("rain"), col("condition"),
    col("date"), lower(trim(col("circuit_name3"))).as("circuit_name3"),
    col("off_name"), col("info"), col("night_race"), col("lat"),
    col("long"), col("id_race"))

  /** `Select values 7 2` + `Sort rows 16` (country asc, cs:N) → Circuit
    * Table. Faithful quirk: `name_circuit` is the weather-side circuit
    * name and lat/long are the scraped race coordinates — the circuit
    * CSV's lat/long were collision debris the reference drops.
    */
  lazy val circuitTable: DataFrame = weatherRacesCircuits.select(
      col("circuit_name").as("name_circuit"), col("lat"), col("long"),
      col("country"), col("pole_position"), col("length"), col("width"),
      col("constructed"), col("modifies"), col("circuit_id"))
    .orderBy(lower(col("country")).asc)

  // ------------------------------------------------------------------ //
  // Entry 2 — Results mainline (Rider, Partecipation, Teams Table)
  // ------------------------------------------------------------------ //

  /** `Edit Name 9` + `Filter rows 3 2` (bike_id <> 234). */
  lazy val bikesDim: DataFrame = bikesSrc.select(
      col("id").as("bike_id"), col("name").as("bike_name"), col("country"))
    .filter(col("bike_id") =!= 234)

  /** `Edit Name 8` + `Add sequence` — the surrogate `team_id` sequence
    * overwrites the source id (the reference re-keys teams). Also the
    * Teams Table output. */
  lazy val teamsDim: DataFrame = seqIdFileOrder(
    teamsSrc.select(col("name").as("team_name"), col("country")), "team_id")

  /** Teams Table = the teams dimension as joined everywhere (tap off
    * `Sort rows 7`). */
  lazy val teamsTable: DataFrame = teamsDim.select(
    col("team_id"), col("team_name"), col("country"))

  /** `Edit Name 6` + `Add sequence 3` (race_id, file order). */
  lazy val resultsBase: DataFrame = seqIdFileOrder(
    raceResultsSrc.select(
      col("year"), col("category"), col("sequence"),
      col("shortname").as("race_name"), col("circuit_name"),
      col("rider").as("rider_id"), col("rider_name"), col("team_name"),
      col("bike_name"), col("position"), col("points"), col("number"),
      col("country"), col("speed"), col("time")),
    "race_id")

  /** `Merge join` + `Merge join 2` (INNER on bike_name, team_name); the
    * raw join-2 stream (pre-`Select values 11`) also feeds standings. */
  lazy val resultsJoined: DataFrame = resultsBase
    .join(bikesDim.withColumnRenamed("country", "country_1"), Seq("bike_name"), "inner")
    .join(teamsDim.withColumnRenamed("country", "country_2"), Seq("team_name"), "inner")

  /** `Select values 11` + `Filter rows 4` (year >= 2005) + split/concat
    * ("Surname, Name" → "SURNAME GIVEN"; Kettle concat treats null parts
    * as empty) + `Select values 12`. */
  lazy val resultsClean: DataFrame = {
    val parts = split(col("rider_name"), ",")
    resultsJoined
      .select(col("year"), col("category"), col("sequence"), col("race_name"),
        col("circuit_name"), col("rider_id"), col("rider_name"),
        col("position"), col("points"), col("number"), col("country"),
        col("speed"), col("time"), col("race_id"), col("bike_id"), col("team_id"))
      .filter(col("year") >= 2005)
      .withColumn("rider_name",
        concat_ws("", parts.getItem(0), parts.getItem(1))) // empty-separator quirk (C13)
      .select(col("year"), col("category"), col("race_name"), col("circuit_name"),
        col("rider_id"), col("position"), col("points"), col("number"),
        col("country"), col("speed"), col("time"), col("race_id"),
        col("bike_id"), col("team_id"), col("rider_name"))
  }

  /** Podium stats side: `Trim 5` + `Select values` ⟕[`Merge join 13` on
    * rider_name] career info (`Trim 5 2` + surname/name split-concat +
    * `Select values 2`); right-side victories/2nd/3rd become `_1` debris
    * the reference drops. */
  lazy val riderStats: DataFrame = {
    val positions = ridersPositionsSrc.select(
      upper(trim(col("Rider"))).as("rider_name"),
      col("Victories").as("victories"),
      col("NumberofSecond").as("2nd"), col("NumberofThird").as("3rd"))
    val infoParts = split(upper(trim(col("Riders All Time in All Classes"))), " ")
    val info = ridersInfoSrc.select(
      concat_ws(" ", infoParts.getItem(1), infoParts.getItem(0)).as("rider_name"),
      col("Victories").as("victories_1"),
      col("2nd places").as("2nd_1"), col("3rd places").as("3rd_1"))
    positions.join(info, Seq("rider_name"), "left")
  }

  /** Rider dimension: `Edit Name 7` + concat first/last + upper +
    * ⟖[`Merge join 4` RIGHT OUTER on rider_name = rider_name1] stats +
    * `Select values 10` + `add id 3` (id_rider_seq — Kettle assigns in
    * the join's rider-name sort order; pinned to (rider, rider_id)). */
  lazy val riderDim: DataFrame = {
    val master = ridersSrc.select(
        col("id").as("rider_id"),
        upper(trim(concat_ws(" ", col("first_name"), col("last_name")))).as("rider_name1"),
        col("country"), col("number"))
    val joined = riderStats.join(master,
      col("rider_name") === col("rider_name1"), "right")
    Ops.sequenceId(
      joined.select(col("rider_name1").as("rider"), col("victories"),
        col("2nd"), col("3rd"), col("rider_id"), col("country"), col("number")),
      Seq(col("rider").asc, col("rider_id").asc), "id_rider_seq")
  }

  /** `Merge join 5` INNER on rider_id (results side suffixed `_1`) +
    * `Select values 13`. */
  lazy val resultsWithRider: DataFrame = riderDim
    .join(resultsClean
        .withColumnRenamed("rider_id", "rider_id_1")
        .withColumnRenamed("number", "number_1")
        .withColumnRenamed("country", "country_1"),
      col("rider_id") === col("rider_id_1"), "inner")
    .select(col("rider"), col("rider_id"), col("number"), col("year"),
      col("category"), col("race_name"), col("circuit_name"), col("position"),
      col("points"), col("speed"), col("time"), col("race_id"),
      col("bike_id"), col("team_id"), col("rider_id_1"), col("id_rider_seq"))

  /** Podium router (`Filter rows 3*`) + `Group by`..`2 2 2` + 5-way INNER
    * `Multiway merge join` + `Select values 14`, folded into one
    * aggregate — see [[MotoGpPipelines.podiumAgg]]. */
  lazy val riderPodiumAgg: DataFrame =
    MotoGpPipelines.podiumAgg(riderDim, resultsWithRider)

  /** Participation precursor: MotoGP-only results, word-order-swapped
    * rider_name ("SURNAME GIVEN" → "GIVEN SURNAME"), LEFT quali join on
    * (year, circuit_name, rider_name) = (Year, OfficialName, RiderName),
    * keep only quali_id of the quali side (`Select values 8` + `12 2`).
    */
  lazy val participationBase: DataFrame = {
    val parts = split(col("rider_name"), " ")
    val motoGp = resultsClean
      .filter(col("category") === "MotoGP")
      .withColumn("rider_name",
        concat_ws(" ", parts.getItem(1), parts.getItem(0)))
    val quali = seqIdFileOrder(qualiSrc, "quali_id").select(
      col("Year").as("Year_1"), col("OfficialName"), col("RiderName"),
      col("quali_id"))
    motoGp.join(quali,
        col("year") === col("Year_1") &&
          col("circuit_name") === col("OfficialName") &&
          col("rider_name") === col("RiderName"), "left")
      .select(col("year"), col("category"), col("race_name"), col("circuit_name"),
        col("rider_id"), col("position"), col("points"), col("number"),
        col("country"), col("speed"), col("time"), col("race_id"),
        col("bike_id"), col("team_id"), col("rider_name"), col("quali_id"))
  }

  /** `Merge join 11` INNER on rider_id + `Group by 3` (distinct) →
    * Rider table: the rider_name spelling comes from the participation
    * stream, counts/attrs from the dimension side. */
  lazy val riderTable: DataFrame = riderPodiumAgg
    .join(participationBase
        .select(col("rider_id").as("rider_id_1"), col("rider_name")),
      col("rider_id") === col("rider_id_1"), "inner")
    .select(col("rider_name"), col("1st_pos"), col("2nd_pos"), col("3rd_pos"),
      col("country"), col("number"), col("other_pos"), col("id_rider_seq"))
    .distinct()

  /** `Merge join 12` LEFT on rider_name (rider-side country/number win,
    * `Select values 16`) + lower(circuit_name) + FM2 fuzzy against the
    * Race Table (appends id_race) + `Select values 18 2` + year desc →
    * Partecipation. */
  lazy val partecipation: DataFrame = {
    val rt = riderTable.select(col("rider_name"),
      col("country").as("country_1"), col("number").as("number_1"),
      col("id_rider_seq"))
    val joined = participationBase
      .drop("country", "number")
      .join(rt, Seq("rider_name"), "left")
      .select(col("rider_name"), col("id_rider_seq"), col("year"),
        col("category"), col("race_name"),
        lower(trim(col("circuit_name"))).as("circuit_name"),
        col("rider_id"), col("position"), col("points"),
        col("number_1").as("number"), col("country_1").as("country"),
        col("speed"), col("time"), col("race_id"), col("bike_id"),
        col("team_id"), col("quali_id"))
    FuzzyMatch.bestMatch(joined, "circuit_name",
        raceTable.select(col("circuit_name"), col("id_race")),
        "circuit_name", Seq("id_race"),
        matchCol = "corrispondenza", scoreCol = "valore di misura",
        lookupOrder = Seq(col("id_race"))) // Kettle load order = file order
      .select(col("year"), col("category"), col("race_name"), col("circuit_name"),
        col("id_rider_seq"), col("position"), col("points"), col("number"),
        col("country"), col("speed"), col("time"), col("race_id"),
        col("bike_id"), col("team_id"), col("rider_name"),
        col("corrispondenza"), col("id_race"))
      .orderBy(col("year").desc)
  }

  // ------------------------------------------------------------------ //
  // Entry 3 — Team standings
  // ------------------------------------------------------------------ //

  /** `Edit Name 3` + mojibake/™ strips (`Replace in string` 1+2). */
  lazy val constructorsPrepared: DataFrame = constructorsSrc.select(
      col("Season").as("year"), col("Constructor").as("constructor_name"),
      regexp_replace(
        regexp_replace(col("Class"), "(?i)â„¢", " "),
        "(?i)™", "").as("category"))

  /** `Filter rows 4 2` + `Select values 15` + `Merge join 7` INNER on
    * (year, category) — a semi-join against the constructors'-WC era
    * table (constructor_name itself is dropped by `Select values 17`) —
    * + `Group by 3 2` SUM + `Modified JavaScript value 2` rank
    * (row_number per (year, category), points desc, ties by stable
    * pre-sort order = team_name) + `Merge join 9` + `Select values
    * 16 2 2` + final sort → Team Standings. */
  lazy val teamStandings: DataFrame = {
    val teamResults = resultsJoined
      .filter(col("year") >= 2005)
      .select(col("year"), col("category"), col("sequence"), col("team_name"),
        col("bike_name"), col("position"), col("points"), col("team_id"))
    val eraFiltered = constructorsPrepared
      .withColumnRenamed("year", "c_year").withColumnRenamed("category", "c_category")
      .join(teamResults,
        col("c_year") === col("year") && col("c_category") === col("category"),
        "inner")
      .select(col("year"), col("category"), col("team_name"), col("points"))
    val standings = eraFiltered
      .groupBy(col("year"), col("category"), col("team_name"))
      .agg(sum(col("points")).as("total_points"))
    val ranked = Ops.rankInGroup(standings, Seq("year", "category"),
        Seq(col("total_points").desc, lower(col("team_name")).asc), "final_position")
    teamsTable.select(col("team_id"), col("team_name"))
      .join(ranked, Seq("team_name"), "inner")
      .select(col("year"), col("category"), col("team_name"),
        col("total_points"), col("final_position").cast("long").as("final_position"),
        col("team_id"))
      .orderBy(col("year").asc, lower(col("category")).asc, lower(col("team_name")).asc)
  }

  /** The reference's DISABLED branch (hop `Unique rows → Sort rows 8`,
    * motogp.ktr:697-700): podium-stats ∪ career-info rider names,
    * deduplicated keep-first. Declared capability, reproduced here and
    * kept off the live path exactly as in the reference, where the LEFT
    * `Merge join 13` supersedes it (SURVEY.md §0).
    */
  lazy val riderNamesUnioned: DataFrame = {
    val positions = ridersPositionsSrc.select(
      upper(trim(col("Rider"))).as("rider_name"),
      col("Victories").cast("double").as("victories"),
      col("NumberofSecond").cast("double").as("2nd"),
      col("NumberofThird").cast("double").as("3rd"))
    val infoParts = split(upper(trim(col("Riders All Time in All Classes"))), " ")
    val info = ridersInfoSrc.select(
      concat_ws(" ", infoParts.getItem(1), infoParts.getItem(0)).as("rider_name"),
      col("Victories").cast("double").as("victories"),
      col("2nd places").as("2nd"), col("3rd places").as("3rd"))
    Ops.dedupKeepFirst(
      Ops.unionAppend(positions.withColumn("__src", lit(0)),
        info.withColumn("__src", lit(1))),
      Seq("rider_name"),
      Seq(col("__src").asc)) // head-stream rows win, as ordered append + keep-first
      .drop("__src")
  }

  /** All seven integrated tables by their reference names. */
  def tables: Map[String, DataFrame] = Map(
    "circuit" -> circuitTable,
    "race" -> raceTable,
    "info_race" -> infoRace,
    "teams" -> teamsTable,
    "rider" -> riderTable,
    "partecipation" -> partecipation,
    "team_standings" -> teamStandings)
}

object MotoGpPipelines {

  /** The reference's four podium legs (a filtered `Group by` count per
    * position class) and their 5-way INNER join with the rider
    * dimension, as ONE aggregation: each leg is a `count(when(cond, 1))`
    * column of a single group-by on rider_id, and a rider survives only
    * if all four counts are > 0 — the INNER semantics, which drop riders
    * missing any position class (reproduced, not "fixed"). A null
    * position fails every condition, as it failed every leg's filter,
    * and a rider_id duplicated in the dimension doubles its results rows
    * and its output rows exactly as the four joins did. One join to the
    * dimension replaces four.
    */
  def podiumAgg(riderDim: DataFrame, resultsWithRider: DataFrame): DataFrame = {
    val legs = Seq(
      "1st_pos" -> (col("position") === 1),
      "3rd_pos" -> (col("position") === 3),
      "other_pos" -> !col("position").isin(1, 2, 3),
      "2nd_pos" -> (col("position") === 2))
    val aggs = legs.map { case (n, c) => count(when(c, 1)).as(n) }
    val counts = resultsWithRider.groupBy("rider_id").agg(aggs.head, aggs.tail: _*)
      .filter(legs.map { case (n, _) => col(n) > 0 }.reduce(_ && _))
    riderDim.join(counts, Seq("rider_id"), "inner")
      .select(col("rider"), col("rider_id"), col("country"), col("number"),
        col("1st_pos"), col("3rd_pos"), col("2nd_pos"), col("other_pos"),
        col("id_rider_seq"))
  }
}
