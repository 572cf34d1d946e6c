package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregations, Casting, Joins, Projections, Sinks, TxTable, Windows}

/** The reference's 5-stage medallion topology (landing → bronze → silver →
  * gold; `/root/reference/README.md:9-15`) rebuilt from the ops library.
  * Stages chain ONLY through storage — each reads the previous layer's
  * single-file parquet tables and writes its own (SURVEY.md §3) — so any
  * stage can be re-run independently, exactly like the reference's
  * independent Glue jobs.
  *
  * Input tables are the reference-shaped NBA landing tables (FIXTURES.md §A,
  * trimmed to a representative column set): `ld_gamelogs` (per player-game
  * box rows, US-format dates), `ld_games` (per player-game-quarter rows,
  * Spanish headers, "MM:SS" minutes), `ld_season` (player bio/season dim),
  * `ld_teams` (team dim keyed by (team, year)).
  *
  * Scale notes: every stage is one lazy DAG ending in the single-file sink
  * (the sink's coalesce(1) is the reference's observable contract and sits
  * only at the write boundary); the D1 downcast is the single extra
  * aggregate pass; dims (season, teams) are small → Catalyst/AQE picks
  * broadcast joins without hints.
  */
trait Stage {
  def name: String
  def run(spark: SparkSession, lake: String): Unit
}

object Layers {
  /** Landing tables arrive as plain parquet (crawler-shaped). */
  def landing(spark: SparkSession, lake: String, table: String): DataFrame =
    spark.read.parquet(s"$lake/landing/$table.parquet")
  /** Bronze+ tables follow the single-file contract `<layer>/<t>/<t>.parquet`. */
  def read(spark: SparkSession, lake: String, layer: String, table: String): DataFrame =
    spark.read.parquet(s"$lake/$layer/$table/$table.parquet")
  def write(df: DataFrame, lake: String, layer: String, table: String): Unit =
    Sinks.writeSingleFile(df, s"$lake/$layer", table)
  /** Gold publish: the single-file contract by default, or a [[TxTable]]
    * overwrite-commit (`tx = true`) so dashboards reading a resume table
    * never race the refresh — gold is the layer with live readers, and
    * the single-file rename window ([[Sinks.writeSingleFile]] delete +
    * rename) is exactly the race a manifest commit removes. Tx gold
    * tables live at the same `<lake>/gold/<table>` path and are read
    * with [[TxTable.read]].
    */
  def publish(df: DataFrame, lake: String, layer: String, table: String,
              tx: Boolean): Unit = {
    val dest = s"$lake/$layer/$table"
    // mixed-mode guard (same contract as Sinks.upsert): a non-tx
    // publish onto a table that has a _txlog would refresh the parquet
    // UNDER the stale manifest — TxTable readers would silently keep
    // serving the old snapshot forever
    if (!tx && TxTable.exists(df.sparkSession, dest)) sys.error(
      s"$dest is a TxTable (has a _txlog): publish with tx = true, or " +
      "remove the _txlog to demote it — a plain overwrite would leave " +
      "TxTable readers pinned to the stale manifest")
    if (tx) {
      TxTable.overwrite(df.sparkSession, dest, df)
      // the mirror-image trap of the guard above: a tx publish onto a
      // table previously published single-file would leave the stale
      // `<table>.parquet` in place (the manifest commit never touches
      // it), and readers on the single-file contract would silently
      // serve the pre-tx snapshot forever — remove it AFTER the commit
      // (a crash in between leaves both publish modes readable: the
      // manifest serves the new data, the single file the old)
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val single = new org.apache.hadoop.fs.Path(s"$dest/$table.parquet")
      val fs = org.apache.hadoop.fs.FileSystem.get(single.toUri, conf)
      if (fs.exists(single)) fs.delete(single, false)
      ()
    }
    else write(df, lake, layer, table)
  }
}

/** Landing → bronze: type cleanup (reference `aws-job-landing-to-bronze/
  * aws-job-landing-to-bronze.py:46-118`): US-date canonicalization (F1/F2),
  * "MM:SS" split (F6/F7), null-guarded ISO birthdate parse (P6/F3),
  * whole-row season dedup (A5), crawler-column drops (P1), data-driven
  * bigint→int downcast (D1).
  */
object LandingToBronze extends Stage {
  val name = "landing_to_bronze"

  def run(spark: SparkSession, lake: String): Unit = {
    val gamelogs = Layers.landing(spark, lake, "ld_gamelogs")
      // L2B:46 — "MMM dd, yyyy" → canonical yyyy-MM-dd string
      .withColumn("game_date",
        date_format(to_date(col("game_date"), "MMM dd, yyyy"), "yyyy-MM-dd"))
      .drop("partition_0", "partition_1")

    val games = Layers.landing(spark, lake, "ld_games")
      // L2B:50-51 — split "MM:SS" into int minute/second columns
      .withColumn("minutes_played", split(col("minutos"), ":").getItem(0).cast("int"))
      .withColumn("seconds_played", split(col("minutos"), ":").getItem(1).cast("int"))
      .drop("minutos", "partition_0", "partition_1")

    val season = Layers.landing(spark, lake, "ld_season")
      // L2B:60 — null-guarded ISO parse (implicit otherwise(null))
      .withColumn("birthdate",
        when(col("birthdate").isNotNull,
          to_date(col("birthdate"), "yyyy-MM-dd'T'HH:mm:ss")))
      .drop("partition_0")
      // L2B:59 — collapse duplicate per-season rows
      .dropDuplicates()

    val teams = Layers.landing(spark, lake, "ld_teams").drop("partition_0")

    Seq("gamelogs" -> gamelogs, "games" -> games,
        "season" -> season, "teams" -> teams).foreach { case (t, df) =>
      // L2B:68-82,109-112 — downcast each bigint column iff its values fit
      Layers.write(Casting.safeDowncastLongs(df), lake, "bronze", t)
    }
  }
}

/** Bronze → silver: conform + join (reference `aws-job-bronze-to-silver/
  * aws-job-bronze-to-silver.py:46-252`): bulk renames incl. Spanish→English
  * (P3), derived seconds column (P4/F9), J1 player-name join, J2
  * computed-key team/year join (F4/F5), J3 derived `concat_ws` key join
  * (F8), qualified wide selects (P2).
  */
object BronzeToSilver extends Stage {
  val name = "bronze_to_silver"

  /** B2S:46-63 — canonicalize gamelog abbreviations. */
  val gamelogRenames: Map[String, String] = Map(
    "wl" -> "game_result", "min" -> "minutes",
    "fgm" -> "field_goals_made", "fga" -> "field_goals_attempted",
    "pts" -> "points", "reb" -> "rebounds", "ast" -> "assists")

  /** B2S:66-91 — Spanish→English box-score headers (incl. the awkward
    * `3p` / `+/-` originals).
    */
  val gameRenames: Map[String, String] = Map(
    "fecha" -> "game_date", "equipo" -> "team_name", "cuarto" -> "quarter",
    "jugador" -> "player_name", "titular" -> "player_role",
    "fg" -> "field_goals_made", "fga" -> "field_goals_attempted",
    "3p" -> "three_point_field_goals_made", "pts" -> "points",
    "+/-" -> "plus_minus")

  def run(spark: SparkSession, lake: String): Unit = {
    val gl = Projections.renameAll(
      Layers.read(spark, lake, "bronze", "gamelogs"), gamelogRenames)
    val g = Projections.renameAll(
        Layers.read(spark, lake, "bronze", "games"), gameRenames)
      // B2S:90 — derived column
      .withColumn("minutes_to_seconds", col("minutes_played") * 60)
    val ss = Projections.renameAll(
      Layers.read(spark, lake, "bronze", "season"), Map("pts" -> "season_points"))
    val tm = Layers.read(spark, lake, "bronze", "teams")

    // J1 (B2S:110-114): gamelogs ⟕ season on player_name, qualified select
    val logsGamesSeason = Joins.enrich(gl.as("gl"), ss.as("ss"),
        col("gl.player_name") === col("ss.player_name"))
      .select(col("gl.season_id"), col("gl.player_id"), col("gl.game_id"),
        col("gl.game_date"), col("gl.matchup"), col("gl.game_result"),
        col("gl.minutes"), col("gl.field_goals_made"),
        col("gl.field_goals_attempted"), col("gl.points"), col("gl.rebounds"),
        col("gl.assists"), col("gl.player_name"),
        col("ss.team_abbreviation"), col("ss.team_name_current"),
        col("ss.team_city"), col("ss.position"), col("ss.birthdate"))

    // J2 (B2S:158-165): games ⟕ teams on (team_name, year(to_date(date)))
    val gamesTeams = Joins.enrich(g.as("g"), tm.as("t"),
        col("g.team_name") === col("t.team") &&
          year(to_date(col("g.game_date"))) === col("t.year"))
      .select(col("g.game_date"), col("g.team_name"), col("g.quarter"),
        col("g.player_name"), col("g.player_role"),
        col("g.minutes_played"), col("g.seconds_played"),
        col("g.minutes_to_seconds"), col("g.field_goals_made"),
        col("g.field_goals_attempted"), col("g.three_point_field_goals_made"),
        col("g.points"), col("g.plus_minus"),
        col("t.nametag"), col("t.division"), col("t.conference"))

    // J3 (B2S:199-208): derive the concat_ws join key on the dim FIRST,
    // then a 2-key equi join
    val ss2 = ss.withColumn("team_full_name",
      concat_ws(" ", col("team_city"), col("team_name_current")))
    val gamesSeasonTeams = Joins.enrich(gamesTeams.as("gt"), ss2.as("s2"),
        col("gt.player_name") === col("s2.player_name") &&
          col("gt.team_name") === col("s2.team_full_name"))
      .select(col("gt.game_date"), col("gt.team_name"), col("gt.quarter"),
        col("gt.player_name"), col("gt.player_role"),
        col("gt.minutes_played"), col("gt.seconds_played"),
        col("gt.minutes_to_seconds"), col("gt.field_goals_made"),
        col("gt.field_goals_attempted"),
        col("gt.three_point_field_goals_made"), col("gt.points"),
        col("gt.plus_minus"), col("gt.nametag"), col("gt.division"),
        col("gt.conference"), col("s2.team_abbreviation"), col("s2.position"))

    Layers.write(logsGamesSeason, lake, "silver", "logs_gamesseason")
    Layers.write(gamesSeasonTeams, lake, "silver", "games_season_teams")
  }
}

/** Silver → silver: per-(player, team, date) score rollup with RUNTIME
  * aggregate-column discovery (reference `aws-job-silver-to-silver/
  * aws-job-silver-to-silver.py:42-49`, A2): every int-typed non-key column
  * gets summed — the bronze downcast (D1) is what makes the discovery see
  * the stat columns.
  */
object SilverToSilver extends Stage {
  val name = "silver_to_silver"

  def run(spark: SparkSession, lake: String): Unit = {
    val gst = Layers.read(spark, lake, "silver", "games_season_teams")
    val player = Aggregations.dynamicIntSums(
      // S2S:31-40 — drop non-stat columns before discovery
      Projections.dropCols(gst, Seq("player_role", "nametag", "division",
        "conference", "team_abbreviation", "position", "quarter")),
      keys = Seq("player_name", "team_name", "game_date"))
    val team = Aggregations.dynamicIntSums(
      Projections.dropCols(gst, Seq("player_name", "player_role", "quarter",
        "team_abbreviation", "position")),
      keys = Seq("team_name", "nametag", "division", "conference", "game_date"))
    Layers.write(player, lake, "silver", "player_gamesscore")
    Layers.write(team, lake, "silver", "teams_gamesscore")
  }
}

/** Silver → gold (player mart): the diamond DAG (reference
  * `aws-job-silver-to-gold-player/aws-job-silver-to-gold-player.py:34-75`):
  * one branch takes the latest team per player via row_number (W1), the
  * other aggregates career totals (A1/A4/A7), then a USING-style left join
  * (J4) merges them.
  */
object SilverToGoldPlayer extends Stage {
  val name = "silver_to_gold_player"

  def run(spark: SparkSession, lake: String): Unit = run(spark, lake, tx = false)

  def run(spark: SparkSession, lake: String, tx: Boolean): Unit = {
    val logs = Layers.read(spark, lake, "silver", "logs_gamesseason")
      .withColumn("game_date", col("game_date").cast("date")) // S2GP:34
    val latest = Windows.topOnePerGroup(logs, Seq("player_name"),
        Seq(col("game_date").desc, col("game_id").desc))
      .select(col("player_name"),
        col("team_abbreviation").as("latest_team"),   // S2GP:44-45
        col("team_name_current").as("latest_team_name"))
    val grouped = logs.groupBy("player_name", "position")  // S2GP:52-72
      .agg(
        sum(col("points")).as("total_points"),
        sum(col("rebounds")).as("total_rebounds"),
        sum(col("assists")).as("total_assists"),
        sum(col("field_goals_made")).as("total_field_goals_made"),
        sum(col("field_goals_attempted")).as("total_field_goals_attempted"),
        (sum(col("minutes")) * 60).cast("double").as("total_seconds"), // S2GP:70 shape
        countDistinct(col("game_date")).as("games_played"))            // S2GP:71
    val resume = Joins.enrichUsing(grouped, latest, Seq("player_name")) // S2GP:75
    Layers.publish(resume, lake, "gold", "player_resume", tx)
  }
}

/** Silver → gold (team mart): reference `aws-job-silver-to-gold-team/
  * aws-job-silver-to-gold-team.py:32-48` (A3/A4).
  */
object SilverToGoldTeam extends Stage {
  val name = "silver_to_gold_team"

  def run(spark: SparkSession, lake: String): Unit = run(spark, lake, tx = false)

  def run(spark: SparkSession, lake: String, tx: Boolean): Unit = {
    val gst = Layers.read(spark, lake, "silver", "games_season_teams")
    val resume = gst.groupBy("team_name", "nametag", "division", "conference")
      .agg(
        sum(col("points")).as("total_points"),
        sum(col("field_goals_made")).as("total_field_goals_made"),
        sum(col("three_point_field_goals_made")).as("total_three_points_made"),
        sum(col("plus_minus")).as("total_plus_minus"),
        countDistinct(col("game_date")).as("games_played"))
    Layers.publish(resume, lake, "gold", "team_resume", tx)
  }
}

/** Runs stages in dependency order (the reference chains jobs through the
  * catalog + S3; here: through the lake directory).
  */
object Orchestrator {
  val stages: Seq[Stage] = Seq(LandingToBronze, BronzeToSilver,
    SilverToSilver, SilverToGoldPlayer, SilverToGoldTeam)

  /** `goldTx = true` publishes the two gold marts through [[TxTable]]
    * commits instead of the single-file sink (see [[Layers.publish]]);
    * bronze/silver keep the reference's single-file contract — they
    * chain stage-to-stage with no concurrent readers.
    */
  def runAll(spark: SparkSession, lake: String, goldTx: Boolean = false): Unit =
    stages.foreach { s =>
      spark.sparkContext.setJobGroup(s.name, s.name)
      s match {
        case SilverToGoldPlayer => SilverToGoldPlayer.run(spark, lake, goldTx)
        case SilverToGoldTeam => SilverToGoldTeam.run(spark, lake, goldTx)
        case other => other.run(spark, lake)
      }
    }

  /** CLI entry: `runMain graft.pipeline.Orchestrator <lakeRoot>`. */
  def main(args: Array[String]): Unit = {
    val lake = args.headOption.getOrElse(sys.error("usage: Orchestrator <lakeRoot>"))
    val spark = graft.util.Sessions.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-medallion")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try runAll(spark, lake) finally spark.stop()
  }
}
